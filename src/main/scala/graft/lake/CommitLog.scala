package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Multi-writer dataset with OPTIMISTIC CONCURRENCY — the Delta-log /
  * Iceberg commit protocol, reduced to its load-bearing parts. The
  * reference is single-writer (every pydala write assumes it owns the
  * directory); at 100 TB a lake has many concurrent producers, and
  * "last directory listing wins" silently loses data. This flavor
  * makes the COMMIT the unit of truth:
  *
  * {{{
  * <root>/data/<uuid>.parquet        // immutable data files
  * <root>/_staged/<uuid>/            // writer scratch, invisible
  * <root>/_commits/v%020d.json       // the log: one file per version
  * }}}
  *
  * A write stages its files under `_staged/<uuid>/` and moves them into
  * `data/` (UUID-unique names: no collision, still invisible). Every
  * verb then commits through ONE optimistic transaction, [[Txn]] (Delta's
  * OptimisticTransaction + ConflictChecker), and states only what it
  * planned on, what conflicts with it, and what it writes. Each attempt:
  *  1. reads the tip once. The window is the commits in
  *     `(planned, tip]`, read only if a rule looks at them;
  *  2. conflicts (ConcurrentModificationException: re-plan on fresh
  *     state) when a file the verb rewrites is no longer live, or a
  *     positional delete in the window marks one;
  *  3. runs the verb's own rule, which returns the commit's payload
  *     ([[CommitLog.Action]]), abandons, or conflicts;
  *  4. enforces the CHECK / NOT NULL constraints on the staged files,
  *     for the verbs that add rows;
  *  5. CASes the payload at tip + 1. The full manifest lands in a temp
  *     file and is linked into the version slot in one atomic step
  *     (hard link on `file://`, no-overwrite rename on HDFS, conditional
  *     PUT on S3), so a version either does not exist or carries its
  *     complete manifest. A lost slot means another writer took it: the
  *     attempt repeats on the new tip (appends commute, Iceberg's
  *     fast-append). Replace, restore, adopt and clone CAS only at their
  *     base version + 1, and conflict instead of retrying.
  * After a won CAS, in this order: the auto-checkpoint; the `_stats`
  * sidecar upkeep (an append extends it; a replace, a restore, or a
  * commit that removes a live data file drops it; any other commit
  * leaves it); the [[onCommit]] hooks.
  *
  * A read resolves the log, not the directory: the newest REPLACE
  * resets the live set and later commits fold into it. Uncommitted
  * moves and crashed stagings are invisible by construction (debris for
  * a vacuum sweep, never data). Read cost is O(commits) metadata + the
  * manifest's files — no recursive listing; checkpoints bound the
  * replay.
  */
final class CommitLog(spark: SparkSession, root: String) {

  private val rootPath = new Path(root)

  /** Commit-time clock, injectable for deterministic tests. Recorded
    * timestamps are additionally forced MONOTONE across versions (a
    * later version never carries an earlier ts, whatever each
    * writer's wall clock says) — the Delta in-commit-timestamp rule
    * that makes [[versionAt]] well-defined under clock skew. */
  private[lake] var clock: () => Long = () => System.currentTimeMillis()

  private def fs =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val mapper = new ObjectMapper()
  private def commitsDir = new Path(root, "_commits")
  private def dataDir = new Path(root, "data")
  private def changeDataDir = new Path(root, "_change_data")

  def init(): CommitLog = {
    fs.mkdirs(commitsDir)
    fs.mkdirs(dataDir)
    this
  }

  // ---- hive partitioning ---------------------------------------------------

  private def partMarker = new Path(root, "_partitioning.json")

  /** Initialize a HIVE-PARTITIONED table: data files land under
    * `data/<k>=<v>/...`, commit manifests carry partition-qualified
    * relative names, and each file's partition values fold into its
    * log-carried spans as exact [v, v] intervals — so partition
    * pruning at resolution, partition-granular OPTIMIZE WHERE, and
    * partition-disjoint merge commutes all ride the EXISTING span
    * machinery (the Delta partitionValues-per-AddFile design, encoded
    * as spans). Partitioning is immutable table metadata: re-init
    * with different columns refuses. */
  def initPartitioned(cols: Seq[String]): CommitLog = {
    require(cols.nonEmpty, "initPartitioned needs partition columns")
    init()
    if (fs.exists(partMarker))
      require(partitionCols == cols,
        s"table is already partitioned by ${partitionCols.mkString(",")}")
    else {
      // layout is decided at birth: flipping a populated FLAT table
      // to partitioned would mix data/part-*.parquet with
      // data/k=v/part-*.parquet and break partition discovery over
      // the already-committed files
      require(latestVersion() == 0L,
        "cannot partition a table that already has commits — " +
          "partitioning is decided at table creation (or via adopt)")
      val n = mapper.createObjectNode()
      val a = n.putArray("cols")
      cols.foreach(a.add)
      val out = fs.create(partMarker, false)
      try out.write(mapper.writeValueAsBytes(n)) finally out.close()
    }
    this
  }

  /** The table's partition columns (empty = unpartitioned). */
  def partitionCols: Seq[String] =
    if (!fs.exists(partMarker)) Nil
    else {
      val node = mapper.readTree(TimeFly.readText(fs, partMarker))
        .asInstanceOf[ObjectNode]
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      node.withArray("cols").forEach(n => buf += n.asText())
      buf.toSeq
    }

  /** `(col, raw value)` pairs parsed from a relative name's `k=v`
    * path segments (hive layout; values unescaped the way Spark
    * escaped them on write). */
  private def partValuesOf(name: String): Seq[(String, String)] =
    name.split('/').dropRight(1).toSeq.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else Some(seg.take(i) ->
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.drop(i + 1)))
    }

  /** A partition value as an exact span in the column's domain —
    * chosen by the recorded column type when known (a string-typed
    * partition with numeric-looking values must span as a STRING or
    * probes never match), numeric-parse heuristic otherwise; None for
    * the hive null sentinel, which must stay unprunable. */
  private def partSpan(v: String,
      dt: Option[org.apache.spark.sql.types.DataType])
      : Option[(Option[FileStats.SpanV], Option[FileStats.SpanV])] = {
    import org.apache.spark.sql.types.{DateType, NumericType, StringType, TimestampNTZType, TimestampType}
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import org.apache.spark.unsafe.types.UTF8String
    if (v == "__HIVE_DEFAULT_PARTITION__") return None
    val sv: Option[FileStats.SpanV] = dt match {
      case Some(StringType) => Some(FileStats.StrV(v))
      case Some(_: NumericType) =>
        scala.util.Try(v.toDouble).toOption.map(FileStats.NumV)
      case Some(TimestampType | TimestampNTZType | DateType) =>
        val zone = DateTimeUtils.getZoneId(
          spark.sessionState.conf.sessionLocalTimeZone)
        val u = UTF8String.fromString(v)
        DateTimeUtils.stringToTimestamp(u, zone).map(_ / 1e6)
          .orElse(DateTimeUtils.stringToDate(u)
            .map(d => DateTimeUtils.daysToMicros(d, zone) / 1e6))
          .map(FileStats.NumV)
      case _ =>
        Some(scala.util.Try(v.toDouble).toOption
          .map[FileStats.SpanV](FileStats.NumV)
          .getOrElse(FileStats.StrV(v)))
    }
    sv.map(s => (Some(s), Some(s)))
  }

  // Fired after every commit this handle wins (LakeManager wires SQL
  // view refresh here, the CommitLog analog of TimeFly.onDataChange).
  private var commitHooks: List[() => Unit] = Nil
  def onCommit(f: () => Unit): CommitLog = {
    commitHooks ::= f
    this
  }
  private def notifyCommit(): Unit = commitHooks.foreach(_())

  private def versionFile(v: Long) =
    new Path(commitsDir, f"v$v%020d.json")

  /** Versions whose commit files exist (ascending) — after retention
    * expiry the low prefix is gone, by contract. */
  private def existingVersions(): Seq[Long] =
    if (!fs.exists(commitsDir)) Nil
    else fs.listStatus(commitsDir).iterator
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json") &&
        !n.endsWith(".checkpoint.json"))
      .map(n => n.substring(1, n.length - 5).toLong)
      .toSeq.sorted

  /** Last tip this handle observed (-1 = never). Versions are DENSE
    * under the CAS — every claim is latestVersion()+1 and visibility
    * is atomic, so a version below an existing one can never appear
    * later — which makes forward PROBING from a previously-true tip
    * exact. Retention only deletes a prefix; a hinted tip that was
    * itself expired away (possible in a long-lived handle) fails the
    * existence check below and reseeds from one full listing. */
  @volatile private var tipHint: Long = -1L

  /** Highest committed version, 0 if none. O(new commits) amortized:
    * probe forward from the last observed tip instead of listing the
    * whole commits directory per call — the listing made every
    * metadata check O(commits) on deep logs even with resolution
    * memoized. */
  def latestVersion(): Long = {
    var t = tipHint
    if (t < 0 || (t > 0 && !fs.exists(versionFile(t))))
      t = existingVersions().foldLeft(0L)(math.max)
    var n = t + 1
    while (fs.exists(versionFile(n))) { t = n; n += 1 }
    tipHint = t
    t
  }

  /** Lowest RETAINED version, 0 if none — after [[expireBefore]]
    * truncation this is > 1, and increments below it are gone with
    * their manifests (folded into the checkpoint). O(commits). */
  def earliestVersion(): Long =
    existingVersions().headOption.getOrElse(0L)

  import CommitLog.{Action, Commit, FileSpans, Resolved}

  private def baseMarker = new Path(root, "_base.json")

  /** Shallow-clone borrow table: (source data dir, borrowed names) —
    * written once by [[cloneTo]] before the clone's first commit,
    * immutable after (borrowed files can only LEAVE the live set;
    * the borrow list never grows). */
  private lazy val borrowed: (Option[Path], Set[String]) =
    if (!fs.exists(baseMarker)) (None, Set.empty)
    else {
      val node = mapper.readTree(TimeFly.readText(fs, baseMarker))
        .asInstanceOf[ObjectNode]
      val names = scala.collection.mutable.Set[String]()
      node.withArray("files").forEach(n => names += n.asText())
      (Some(new Path(node.path("base").asText())), names.toSet)
    }

  private def dataPath(name: String): String = borrowed match {
    case (Some(base), names) if names(name) =>
      new Path(base, name).toString
    case _ => new Path(dataDir, name).toString
  }

  /** An absolute scanned path (e.g. from `input_file_name()`) back to
    * its committed name — partition-qualified relative path under
    * `data/` (leaf name alone is ambiguous-free but WRONG as a
    * manifest key on a partitioned table). A shallow clone's borrowed
    * files scan from the SOURCE base dir, so their names relativize
    * against it — the inverse of [[dataPath]] either way. Scan paths
    * arrive URL-ENCODED (see [[decodedPath]]); comparison happens in
    * the decoded (on-disk) form committed names use. */
  private def relName(absolute: String): String = {
    val abs = decodedPath(absolute)
    def under(dir: Path): Option[String] = {
      val p = fs.makeQualified(dir).toUri.getPath + "/"
      if (abs.startsWith(p)) Some(abs.drop(p.length)) else None
    }
    under(dataDir)
      .orElse(borrowed._1.flatMap(under))
      .getOrElse(abs)
  }

  // ------------------------------------------------------------------
  // Per-version memoization. A committed version is IMMUTABLE: commit
  // files land atomically (temp-then-link CAS), versions are dense
  // (every claim is latestVersion()+1, so a version below an existing
  // one can never appear later), and retention only deletes a prefix
  // whose state the covering checkpoint preserves. So everything keyed
  // by a concrete version — the parsed manifest, the resolved live
  // set, the meta payloads — caches safely for the instance's life.
  // Without this, every SQL verb's metadata checks (CDF property,
  // cluster keys, constraints, identity bases) re-replayed the log
  // from the newest checkpoint PER CHECK — pure repeated I/O that
  // compounded with each added feature. Caches are size-bounded
  // (coarse clear-on-full; a miss only costs one replay tail, which
  // the auto-checkpoint cadence keeps short).
  private val commitCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Commit]()
  private val resolveCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Resolved]()
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long),
      Map[String, String]]()
  private def bounded[K, V](m: java.util.concurrent.ConcurrentHashMap[
      K, V], cap: Int, k: K, compute: => V): V = {
    val hit = m.get(k)
    if (hit != null) hit
    else {
      val v = compute
      if (m.size >= cap) m.clear()
      m.put(k, v)
      v
    }
  }

  /** Drop every memoized parse/resolution. Only needed when a test
    * shim rewrites a committed manifest IN PLACE — something the
    * commit protocol itself never does. */
  private[lake] def invalidateCaches(): Unit = {
    commitCache.clear(); resolveCache.clear(); metaCache.clear()
    tipHint = -1L
    ckptHint = -1L
  }

  def commit(v: Long): Commit =
    bounded(commitCache, 8192, v, loadCommit(v))

  private def loadCommit(v: Long): Commit = {
    val txt = TimeFly.readText(fs, versionFile(v))
    if (txt.trim.isEmpty)
      // cannot happen under the atomic temp-then-link protocol (a
      // visible version carries its full payload); tolerated for logs
      // written by the pre-atomic protocol, where a crash between
      // claim and fill burned the version as a no-op append
      Commit(v, "append", Nil)
    else {
      val node = mapper.readTree(txt).asInstanceOf[ObjectNode]
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      node.withArray("files").forEach(n => buf += n.asText())
      val rm = scala.collection.mutable.ArrayBuffer[String]()
      if (node.has("removed"))
        node.withArray("removed").forEach(n => rm += n.asText())
      val txn =
        if (node.has("txn"))
          Some((node.path("txn").path("app").asText(),
            node.path("txn").path("batch").asLong()))
        else None
      def obj(field: String): Option[Map[String, String]] =
        if (!node.has(field)) None
        else {
          val m = scala.collection.mutable.Map[String, String]()
          node.path(field).fields().forEachRemaining(e =>
            m(e.getKey) = e.getValue.asText())
          Some(m.toMap)
        }
      val chg = scala.collection.mutable.ArrayBuffer[String]()
      if (node.has("changeFiles"))
        node.withArray("changeFiles").forEach(n => chg += n.asText())
      Commit(v, node.path("kind").asText(), buf.toSeq, rm.toSeq, txn,
        schemaOfNode(node), statsOfNode(node),
        node.path("ts").asLong(0L), schemaGroupsOfNode(node),
        obj("constraints"), obj("props"), chg.toSeq,
        node.path("clustered").asBoolean(false),
        if (node.has("clusterKeys"))
          Some(node.path("clusterKeys").asText()) else None)
    }
  }

  /** Parse a node's `schemaGroups` array (files sharing a schema share
    * one entry — the checkpoint codec, also carried by RESTORE
    * commits, whose re-referenced files keep their original per-file
    * schemas). */
  private def schemaGroupsOfNode(node: ObjectNode)
      : Map[String, StructType] =
    if (!node.has("schemaGroups")) Map.empty
    else {
      val m = scala.collection.mutable.Map[String, StructType]()
      node.withArray("schemaGroups").forEach { gn =>
        val g = gn.asInstanceOf[ObjectNode]
        schemaOfNode(g).foreach { st =>
          g.withArray("files").forEach(n => m(n.asText()) = st)
        }
      }
      m.toMap
    }

  /** Latest version whose recorded commit timestamp is <= `ts` — the
    * Delta `timestampAsOf` resolution rule. Recorded timestamps are
    * monotone by construction ([[clock]]), so the answer is
    * well-defined even under writer clock skew. Resolution spans the
    * EXISTING log: after retention truncation, timestamps before the
    * kept boundary are gone with their manifests (the same bound
    * every log-retention contract documents). O(commits) manifest
    * reads — the resolve cost class. */
  def versionAt(ts: Long): Long = {
    val vs = existingVersions()
    require(vs.nonEmpty, "nothing committed")
    val at = vs.filter(v => commit(v).ts <= ts)
    require(at.nonEmpty,
      s"no commit at or before ts=$ts — the earliest retained is " +
        s"v${vs.min} at ${commit(vs.min).ts}")
    at.max
  }

  /** [[read]] as of a wall-clock instant: resolves through
    * [[versionAt]]. */
  def readAsOfTimestamp(ts: Long): DataFrame =
    read(Some(versionAt(ts)))

  /** DESCRIBE HISTORY with operation metrics, served from manifests
    * ALONE — zero data-file opens at any lake size, because every
    * commit already carries its files' row counts ([[FileSpans]]):
    * one row per retained version with (kind, n_files, n_rows,
    * n_removed, ts). `n_rows` is the commit's OWN files' rows (a
    * rewrite reports its packed total — tombstones subtract at read
    * time, not here); null for legacy commits whose manifests predate
    * span recording. Driver-side O(commits) — the metadata cost class
    * every history listing has. */
  def history(): DataFrame = {
    import spark.implicits._
    existingVersions().map { v =>
      val c = commit(v)
      val nRows: Option[Long] =
        if (c.files.nonEmpty && c.files.forall(c.stats.contains))
          Some(c.files.map(c.stats(_).nRows).sum)
        else if (c.files.isEmpty) Some(0L)
        else None
      (v, c.kind, c.files.size.toLong, nRows,
        c.removed.size.toLong, c.ts)
    }.toDF("version", "kind", "n_files", "n_rows", "n_removed", "ts")
  }

  /** SHOW PARTITIONS — the distinct partition directories of the LIVE
    * set, straight from manifest-carried relative names (zero file
    * opens at any lake size). Refuses on a non-partitioned table
    * (Spark's own contract for the statement). */
  def partitionValues(): DataFrame = {
    import spark.implicits._
    require(partitionCols.nonEmpty,
      "SHOW PARTITIONS is not allowed on a non-partitioned table")
    resolve(None).data
      .map(n => n.split('/').dropRight(1).mkString("/"))
      .filter(_.nonEmpty).distinct.sorted
      .toDF("partition")
  }

  /** DESCRIBE DETAIL — Delta's one-row table summary, served from
    * manifests + file statuses alone (no data-file opens): location,
    * current version, live file count and total bytes, row count when
    * every live file's commit recorded spans (null for legacy logs),
    * partition columns, standing tombstone count, table properties,
    * and constraint names. O(live files) metadata — the cost class of
    * any listing. */
  def detail(): DataFrame = {
    import spark.implicits._
    val v = latestVersion()
    val r = resolve(None)
    val bytes = r.data.map(n =>
      fs.getFileStatus(new Path(dataPath(n))).getLen).sum
    val nRows: Option[Long] =
      if (r.data.forall(r.spanOf.contains))
        Some(r.data.map(r.spanOf(_).nRows).sum)
      else None
    Seq((
      fs.makeQualified(new Path(root)).toString, v,
      r.data.size.toLong, bytes, nRows,
      partitionCols, r.tombstones.size.toLong,
      properties(None), constraints(None).keys.toSeq.sorted
    )).toDF("location", "version", "num_files", "size_bytes",
      "num_rows", "partition_columns", "num_tombstones",
      "properties", "constraints")
  }

  /** Parse a commit/checkpoint node's `stats` object:
    * `{file: {n: rows, cols: {name: [min, max]}}}`, JSON nulls for
    * all-null spans. Numeric sides parse as [[FileStats.NumV]], string
    * sides (string-column prefix spans) as [[FileStats.StrV]] — logs
    * written before typed spans carried numbers only and parse
    * unchanged. */
  private def statsOfNode(node: ObjectNode): Map[String, FileSpans] =
    if (!node.has("stats")) Map.empty
    else {
      val m = scala.collection.mutable.Map[String, FileSpans]()
      node.path("stats").fields().forEachRemaining { e =>
        val fn = e.getValue.asInstanceOf[ObjectNode]
        val cols = scala.collection.mutable.Map[String,
          (Option[FileStats.SpanV], Option[FileStats.SpanV])]()
        if (fn.has("cols"))
          fn.path("cols").fields().forEachRemaining { c =>
            val arr = c.getValue
            def side(i: Int): Option[FileStats.SpanV] = {
              val v = arr.path(i)
              if (v.isNull || v.isMissingNode) None
              else if (v.isTextual) Some(FileStats.StrV(v.asText()))
              else Some(FileStats.NumV(v.asDouble()))
            }
            cols(c.getKey) = (side(0), side(1))
          }
        m(e.getKey) = FileSpans(fn.path("n").asLong(), cols.toMap)
      }
      m.toMap
    }

  /** Parse a commit/checkpoint node's flat `schema` object (name ->
    * simpleString, the [[SchemaTools.schemaToMap]] codec). */
  private def schemaOfNode(node: ObjectNode): Option[StructType] =
    if (!node.has("schema")) None
    else {
      val m = scala.collection.mutable.Map[String, String]()
      node.path("schema").fields().forEachRemaining(e =>
        m(e.getKey) = e.getValue.asText())
      Some(SchemaTools.schemaFromMap(m.toMap))
    }

  /** The live DATA file set at `asOf` (default: latest). See
    * [[resolve]]. */
  def liveFiles(asOf: Option[Long] = None): Seq[String] =
    resolve(asOf).data

  /** Resolve the state at `asOf` (default: latest): start from the
    * newest checkpoint at or below it (if one exists) and replay only
    * the commits after — the newest replace in that suffix resets BOTH
    * sets (a replacing writer reads through the tombstones, so its
    * output already has them applied), later appends accumulate data
    * files and later deletes accumulate tombstone files. Without a
    * checkpoint the whole log replays; the result is identical either
    * way. */
  def resolve(asOf: Option[Long] = None): Resolved = {
    val hi = asOf.getOrElse(latestVersion())
    bounded(resolveCache, 64, hi, resolveAt(hi))
  }

  private def resolveAt(hi: Long): Resolved = {
    val (baseData, baseTs, baseSch, baseSp, from) =
      newestCheckpoint(hi) match {
        case Some(cv) =>
          val node = mapper
            .readTree(TimeFly.readText(fs, checkpointFile(cv)))
            .asInstanceOf[ObjectNode]
          val bd = scala.collection.mutable.ArrayBuffer[String]()
          node.withArray("files").forEach(n => bd += n.asText())
          val bt = scala.collection.mutable.ArrayBuffer[String]()
          node.withArray("tombstones").forEach(n => bt += n.asText())
          // per-file schemas fold as GROUPS (files sharing a schema
          // share one entry) — resolution from a checkpoint must not
          // lose the evolution history the dropped prefix carried
          val bs = scala.collection.mutable.Map[String, StructType]()
          if (node.has("schemaGroups"))
            node.withArray("schemaGroups").forEach { gn =>
              val g = gn.asInstanceOf[ObjectNode]
              schemaOfNode(g).foreach { st =>
                g.withArray("files").forEach(n => bs(n.asText()) = st)
              }
            }
          (bd.toSeq, bt.toSeq, bs.toMap, statsOfNode(node), cv + 1)
        case None =>
          (Seq.empty[String], Seq.empty[String],
            Map.empty[String, StructType],
            Map.empty[String, FileSpans], 1L)
      }
    val commits = (from to hi).map(commit)
    val lastReplace = commits.lastIndexWhere(_.kind == "replace")
    val (data0, ts0, sch0, sp0, tail) =
      if (lastReplace >= 0)
        (Seq.empty[String], Seq.empty[String],
          Map.empty[String, StructType],
          Map.empty[String, FileSpans], commits.drop(lastReplace))
      else (baseData, baseTs, baseSch, baseSp, commits)
    // ordered fold: appends/replace-start accumulate, deletes add
    // tombstones, a REWRITE swaps its compacted inputs for its packed
    // outputs in place (row-preserving — resolution order matters only
    // relative to the files it names, which later commits never touch)
    var data = data0.toVector
    var ts = ts0.toVector
    var sch = sch0
    var sp = sp0
    tail.foreach { c =>
      def recorded: Map[String, StructType] =
        c.schema.map(st => c.files.map(_ -> st).toMap).getOrElse(Map.empty)
      c.kind match {
        case "delete" => ts = ts ++ c.files
        // an UPSERT swaps its touched inputs for its merged outputs —
        // the same in-place exchange as a rewrite (only the rows
        // differ, which resolution never sees). A rewrite may also
        // RETIRE positional-delete tombstones whose every mark it
        // just applied (listing them in `removed`) — dead marks must
        // not subtract forever.
        case "rewrite" | "upsert" =>
          val rm = c.removed.toSet
          data = data.filterNot(rm) ++ c.files
          ts = ts.filterNot(rm)
          sch = sch -- rm ++ recorded
          sp = sp -- rm ++ c.stats
        // a RESTORE (or a shallow CLONE's founding commit) resets the
        // whole state to its recorded target: `files` is the live
        // set, `removed` carries the TOMBSTONE set, and the manifest
        // brings the target's spans and per-file schema groups with it
        case "restore" | "clone" =>
          data = c.files.toVector
          ts = c.removed.toVector
          sch = sch ++ c.schemaGroups
          sp = sp ++ c.stats
        case _ =>
          data = data ++ c.files
          sch = sch ++ recorded
          sp = sp ++ c.stats
      }
    }
    Resolved(data, ts, sch, sp)
  }

  /** Read the committed state (optionally as of an old version — the
    * log IS a time-travel index). Uncommitted staged files are
    * invisible by construction.
    *
    * This is the SAME logical surface [[LakeReader.load]] assembles for
    * single-writer datasets: merge-on-read tombstones subtract (keys
    * a `delete` commit at or before `asOf` recorded), then column
    * mapping renames physical -> logical and hides dropped columns.
    * The multi-writer flavor is the one a 100 TB lake actually runs —
    * it must not lose the reader features the single-writer flavor
    * has. */
  def read(asOf: Option[Long] = None): DataFrame = {
    val r = resolve(asOf)
    if (r.data.isEmpty) return emptySchemaFrame(asOf)
    assembleRead(r, None)
  }

  /** An empty live set still has a SCHEMA when a retained commit
    * recorded one — a declared CREATE TABLE's zero-row founding
    * append, or a fully-deleted table. Serve it so positional INSERT
    * conformance and SELECTs over the empty table keep working; a log
    * with no recorded schema at all (or truncated past every
    * schema-carrying manifest) degrades to the zero-column frame. */
  private def emptySchemaFrame(asOf: Option[Long]): DataFrame = {
    val hi = asOf.getOrElse(latestVersion())
    existingVersions().filter(_ <= hi).sorted.reverseIterator
      .flatMap(v => scala.util.Try(commit(v)).toOption.flatMap(_.schema))
      .nextOption()
      .map(s0 => spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), s0))
      .getOrElse(spark.emptyDataFrame)
  }

  /** [[read]] with a SQL predicate whose range and equality conjuncts
    * prune the FILE LISTING. Spans come first from the LOG ITSELF —
    * every commit carries [[FileSpans]] for its own files (the Delta
    * per-AddFile stats design), so a file is skippable the moment its
    * commit is visible, with no shared-sidecar maintenance for
    * concurrent writers to contend on. The `_stats` sidecar
    * ([[buildStats]]) is consulted — in one read — only for live files
    * whose commit recorded no spans, or for equality probes on a
    * bloomed column; files neither source covers are kept. Only
    * surviving files are scanned and the residual predicate is always
    * re-applied; conservative under every interleaving because data
    * files are immutable, so a per-file span can never go stale.
    * Tombstones still subtract and column mapping still applies
    * (pruning bails when renames/drops are active — the predicate's
    * logical names would miss the recorded physical spans). */
  def readFiltered(predicate: String, asOf: Option[Long] = None)
      : DataFrame =
    assembleRead(resolve(asOf), Some(predicate))

  /** The data files a [[readFiltered]] scan would list for `predicate`
    * at the latest version — the test-observable pruning surface; None
    * when nothing can prune (no extractable range or probe, no log
    * span or covering sidecar, active column mapping). */
  def candidateDataFiles(predicate: String): Option[Seq[String]] = {
    val mappingActive = SchemaTools.readSchemaMarkerInfo(spark, root)
      .exists(i => i.renames.nonEmpty || i.dropped.nonEmpty)
    if (mappingActive) None
    else {
      val r = resolve(None)
      prunedLive(predicate, r.data, r.spanOf)
    }
  }

  private def prunedLive(predicate: String, live: Seq[String],
      spanOf: Map[String, FileSpans]): Option[Seq[String]] =
    prunedLive(FileStats.typedBounds(spark, predicate),
      FileStats.eqProbes(spark, predicate), live, spanOf)

  /** Names in `live` surviving range `bounds` and bloom probes `eqs`.
    * LOG-CARRIED spans are authoritative: a file whose commit recorded
    * spans ([[FileSpans]]) is range-judged by the log alone, kept iff
    * every bound intersects its span (absent/all-null columns keep). A
    * file the log doesn't cover falls back to the `_stats` sidecar's
    * spans (indexed: keep iff span-intersecting; unindexed: keep).
    * Blooms live in the sidecar only (a blob per file would bloat every
    * commit manifest) and intersect the range verdict of every file the
    * sidecar indexes. The sidecar is READ — once, lazily — only when a
    * live file lacks log spans or a probed column carries a bloom.
    * Correct under every interleaving because data files are immutable
    * — a per-file span can never go stale — and the log-carried source
    * needs NO shared maintenance: each writer's spans ride its own
    * atomic commit. None when nothing can prune (no extractable bound
    * or probe, or neither source covers any file). */
  private def prunedLive(bounds: Map[String, FileStats.ColBound],
      eqs: Map[String, Seq[Seq[FileStats.EqProbe]]], live: Seq[String],
      spanOf: Map[String, FileSpans]): Option[Seq[String]] = {
    if (bounds.isEmpty && eqs.isEmpty) return None
    val side = FileStats.probe(spark, root, bounds, eqs)
    val byBlooms = side.exists(_.prunesBlooms)
    if (!byBlooms && (bounds.isEmpty ||
        spanOf.isEmpty && !side.exists(_.prunesSpans))) return None
    // sidecar rows key by absolute path; compare LEAF names (task-file
    // names are UUID-unique), which also keeps the match alive for
    // partition-qualified relative names
    def leaves(fs: Seq[String]) = fs.map(f => new Path(f).getName).toSet
    lazy val indexed = side.fold(Set.empty[String])(p => leaves(p.indexed))
    lazy val kept = leaves(side.get.kept)
    lazy val bloomKept = leaves(side.get.bloomKept)
    def logKeeps(sp: FileSpans): Boolean = bounds.forall { case (c, b) =>
      sp.cols.get(c).forall { case (mn, mx) =>
        FileStats.spanIntersects(mn, mx, b) }
    }
    Some(live.filter { n =>
      lazy val leaf = new Path(n).getName
      spanOf.get(n) match {
        case Some(sp) => logKeeps(sp) &&
          (!byBlooms || !indexed(leaf) || bloomKept(leaf))
        case None => !indexed(leaf) || kept(leaf)
      }
    })
  }

  /** Read raw data files honoring per-file RECORDED schemas (schema
    * evolution): files group by normalized schema, each group scans
    * with its native schema (filter/column pushdown intact per group),
    * conforms to the promoted unified schema ([[SchemaTools.promote]]
    * is commutative+associative, so concurrent drifted appends resolve
    * to the same unified schema in any commit order), and unions by
    * name. Metadata-only — the log IS the schema registry; a footer
    * probe happens ONLY for files whose commit predates schema
    * recording (bounded by that legacy file count, never the lake). */
  // ---- positional deletion vectors --------------------------------------
  //
  // A second tombstone class alongside keyed MOR deletes: `delete`
  // commits whose files are named `dv-*.parquet` carry (__dv_file,
  // __dv_pos) rows — per-file ROW POSITIONS marked deleted (the Delta
  // deletion-vector design, rows instead of bitmaps). Classification
  // is by NAME, so no footer is opened to tell the classes apart.
  // Positional marks are valid only for the exact file they name —
  // files are immutable, so a mark can never mis-apply — but they do
  // NOT survive a rewrite (positions change), so every path that
  // re-homes rows (OPTIMIZE, merge, copy-on-write DELETE/UPDATE)
  // applies standing marks to its inputs first, and concurrent
  // dv-vs-rewrite races CONFLICT instead of resurrecting rows.

  private def isDvName(n: String): Boolean =
    new Path(n).getName.startsWith("dv-")

  /** A scan-reported absolute path (`input_file_name()` /
    * `_metadata.file_path`) back to its ON-DISK form: Spark renders
    * these URL-ENCODED (a partition value with a space scans as
    * `%20`), while committed names come from FileSystem listings of
    * the literal directory names — decode through `java.net.URI`
    * (true percent-decoding; URLDecoder would corrupt literal `+`)
    * so the two worlds compare in one canonical form. */
  private def decodedPath(absolute: String): String =
    scala.util.Try(new java.net.URI(absolute).getPath)
      .getOrElse(new Path(absolute).toUri.getPath)

  /** The decoded-path prefix a scan carries for files under `data/` —
    * LEARNED from a probe row (rendering differs between
    * Path.toString and the scanner's URI form; observing it is robust
    * to both), skipping zero-row files, cached per handle. Empty
    * string when no live file has a row — in which case no position
    * ever materializes and the prefix is never consulted. */
  /** Driver-side twin of the CODEGEN'D row-side decode in [[posCols]]:
    * percent-decode a scan-rendered path with URI semantics. Built on
    * URLDecoder (what Spark's `url_decode` compiles to) with `+`
    * pre-escaped as `%2B` — form-decoding turns a bare `+` into a
    * space, but scan paths are URI-encoded where `+` is a literal
    * plus; the escape makes the two decoders agree byte-for-byte.
    * Scheme is KEPT (unlike [[decodedPath]]) — the learned prefix
    * absorbs it, so relative names come out identical. */
  private def scanDecode(s: String): String =
    java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")

  @volatile private var dvPrefix: Option[String] = None
  private def learnedPrefix(lives: Seq[String]): String = {
    dvPrefix.getOrElse {
      val p = lives.iterator.flatMap { n =>
        readerFor(Seq(dataPath(n))).parquet(dataPath(n))
          .select(org.apache.spark.sql.functions
            .col("_metadata.file_path"))
          .head(1).headOption.map { r =>
            val abs = scanDecode(r.getString(0))
            require(abs.endsWith(n),
              s"scan path $abs does not end with committed name $n")
            abs.dropRight(n.length)
          }
      }.nextOption().getOrElse("")
      if (p.nonEmpty) dvPrefix = Some(p)
      p
    }
  }

  /** `(relative committed name, row position)` columns for a scan —
    * the join key positional marks subtract on. The name passes
    * through the same percent-decoding as the driver side
    * ([[scanDecode]]), so encoded partition values (`%20`) land as
    * their on-disk forms — and it does so in BUILTIN expressions
    * (`replace` + `url_decode`), keeping the position-carrying scan
    * whole-stage-codegen'd while marks stand (no ScalaUDF in the hot
    * path). */
  private def posCols(prefix: String)
      : Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, length, lit, url_decode}
    val dec = url_decode(org.apache.spark.sql.functions
      .replace(col("_metadata.file_path"), lit("+"), lit("%2B")))
    Seq(
      dec.substr(lit(prefix.length + 1), length(dec)).as("__file_name"),
      col("_metadata.row_index").as("__row_pos"))
  }

  /** Subtract positional marks from a position-carrying frame and drop
    * the position columns (`keepFile` retains `__file_name` for probes
    * that need per-row file identity on the APPLIED rows). */
  /** spark.read with the files' PROVEN-uniform footer schema when
    * available ([[SchemaTools.uniformFooterSchema]] — zero
    * schema-inference jobs; the metadata-plane reads here otherwise pay
    * one 1-task footer job EACH), plain spark.read otherwise. */
  private def readerFor(paths: Seq[String])
      : org.apache.spark.sql.DataFrameReader =
    SchemaTools.uniformFooterSchema(spark, paths)
      .fold(spark.read)(s => spark.read.schema(s))

  private def minusDv(withPos: DataFrame, dvNames: Seq[String],
      keepFile: Boolean = false): DataFrame = {
    val posCols = if (keepFile) Seq("__row_pos")
      else Seq("__file_name", "__row_pos")
    if (dvNames.isEmpty)
      return withPos.drop(posCols: _*)
    val paths = dvNames.map(dataPath)
    val dvf = readerFor(paths).parquet(paths: _*)
    withPos.join(
      SchemaTools.broadcastIfUnder(spark, dvf,
        SchemaTools.bytesOf(spark, paths)),
      withPos("__file_name") === dvf("__dv_file") &&
        withPos("__row_pos") === dvf("__dv_pos"),
      "left_anti")
      .drop(posCols: _*)
  }

  /** Candidate scan carrying per-row file identity as `__file`, with
    * standing positional marks SUBTRACTED. Probes that decide which
    * files a row-level writer touches — and whether source keys match
    * live target rows at all — must see only LIVE rows: an unapplied
    * scan lets a dv-deleted row spuriously "match", which suppresses a
    * WHEN NOT MATCHED insert (the row is then neither inserted nor
    * updated — silent data loss), trips the duplicate-source-key
    * refusal on rows that no longer exist, and marks files touched
    * whose only hits are deleted. `__file` is the RELATIVE committed
    * name when marks stand (the position-carrying read decodes it);
    * otherwise the absolute scan path — [[relFileOf]] normalizes. */
  private def appliedWithFile(names: Seq[String],
      schemaOf: Map[String, StructType],
      dvNames: Seq[String]): DataFrame =
    if (dvNames.isEmpty)
      readConformed(names, schemaOf).withColumn("__file",
        org.apache.spark.sql.functions.input_file_name())
    else
      minusDv(readConformed(names, schemaOf, withPos = true), dvNames,
        keepFile = true).withColumnRenamed("__file_name", "__file")

  /** Normalize a `__file` value from [[appliedWithFile]] to the
    * relative committed name. */
  private def relFileOf(dvNames: Seq[String])(s: String): String =
    if (dvNames.isEmpty) relName(s) else s

  /** Whether the table has the CHANGE DATA FEED enabled at `asOf`
    * ([[CommitLog.CdfEnabledKey]]). */
  private def cdfEnabled(asOf: Option[Long]): Boolean =
    properties(asOf).get(CommitLog.CdfEnabledKey).contains("true")

  /** Stage CDF change rows into `_change_data/` (Delta's change-file
    * analog): written BEFORE the CAS and referenced from the commit's
    * `changeFiles`, so an orphan from a lost race counts nothing.
    * Returns the relative names under `_change_data/`. */
  private def stageChangeData(df: DataFrame): Seq[String] = {
    val staging = new Path(root,
      s"_staged/${java.util.UUID.randomUUID().toString.take(12)}")
    df.write.parquet(staging.toString)
    val files = SchemaTools.listDataFiles(spark, staging.toString)
    fs.mkdirs(changeDataDir)
    val run = java.util.UUID.randomUUID().toString.take(12)
    val out = files.zipWithIndex.map { case (f, i) =>
      val name = s"cdf-$run-$i.parquet"
      fs.rename(fs.makeQualified(new Path(f)),
        new Path(changeDataDir, name))
      name
    }
    fs.delete(staging, true) // sweep the emptied staging dir ([[stage]])
    out
  }

  /** Size-discipline an arbitrary merge/upsert source frame. When the
    * optimizer's estimate already fits the session broadcast
    * threshold, the frame passes through untouched (downstream joins
    * broadcast it). Otherwise — large OR unknown-size — it is staged
    * ONCE to a lake temp dir and re-read, so (a) every downstream join
    * guard sees the REAL on-disk byte count instead of a guess (a
    * multi-GB CDC/backfill source must plan as a shuffled join, never
    * a forced driver broadcast), and (b) the merge's several passes
    * over the source scan a materialized columnar file instead of
    * recomputing an arbitrary upstream plan each time. Returns
    * (frame, bytes, tempDirToSweep) — the caller sweeps the temp dir
    * in a `finally`. */
  private def sizedSource(df: DataFrame): (DataFrame, Long, Option[Path]) = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val threshold = SchemaTools.broadcastThreshold(spark)
    if (threshold > 0 && est <= BigInt(threshold))
      (df, est.toLong, None)
    else {
      val tmp = new Path(root,
        s"_staged/src_${java.util.UUID.randomUUID().toString.take(12)}")
      df.write.parquet(tmp.toString)
      val files = SchemaTools.listDataFiles(spark, tmp.toString)
      (readerFor(files).parquet(tmp.toString),
        SchemaTools.bytesOf(spark, files), Some(tmp))
    }
  }

  /** [[readConformed]] with standing positional marks applied — what
    * every REWRITE path reads its inputs through (a re-homed row must
    * not resurrect a positionally-deleted one). */
  private def readApplied(names: Seq[String],
      schemaOf: Map[String, StructType],
      dvNames: Seq[String]): DataFrame =
    if (dvNames.isEmpty || names.isEmpty)
      readConformed(names, schemaOf)
    else minusDv(readConformed(names, schemaOf, withPos = true), dvNames)

  private def readConformed(names: Seq[String],
      schemaOf: Map[String, StructType],
      withPos: Boolean = false): DataFrame = {
    val known: Seq[(String, StructType)] =
      names.flatMap(n => schemaOf.get(n).map(n -> _))
    val unknown = names.filterNot(schemaOf.contains)
    // on a partitioned table the partition columns live in PATHS:
    // every scan carries basePath so explicit file lists still
    // resolve them (recorded schemas already include the partition
    // columns — Spark fills user-schema columns absent from footers
    // from the partition values)
    val partitioned = partitionCols.nonEmpty
    def scan(schema: Option[StructType], files: Seq[String]): DataFrame = {
      var r = spark.read
      if (partitioned)
        r = r.option("basePath", fs.makeQualified(dataDir).toString)
      schema.foreach(st => r = r.schema(st))
      r.parquet(files: _*)
    }
    val discovered: Seq[(String, StructType)] =
      if (unknown.isEmpty) Nil
      else if (partitioned) {
        // footer probes miss the partition columns (they live in
        // PATHS): take per-file footer schemas in ONE batched pass,
        // then graft the partition columns' types from ONE discovery
        // probe — not a per-file inference job each
        val partFields = scan(None, Seq(dataPath(unknown.head))).schema
          .filter(f => partitionCols.contains(f.name))
        SchemaTools.fileSchemas(spark, unknown.map(dataPath))
          .map { case (p, st) =>
            relName(p) ->
              StructType(st.fields ++
                partFields.filterNot(f => st.fieldNames.contains(f.name)))
          }
      }
      else SchemaTools.fileSchemas(spark, unknown.map(dataPath))
        .map { case (p, st) => new Path(p).getName -> st }
    val all = known ++ discovered
    def key(st: StructType): String = st.fields
      .map(f =>
        s"${f.name}:${SchemaTools.normalizeType(f.dataType).simpleString}")
      .sorted.mkString(",")
    val groups = all.groupBy { case (_, st) => key(st) }.values.toSeq
      .sortBy(g => key(g.head._2))
    // position columns ride each group scan (metadata columns must be
    // selected off the SCAN, before any conform projection)
    if (withPos)
      require(names.forall(n => !borrowed._2(n)),
        "position-carrying reads over borrowed (clone-referenced) " +
          "files are not supported — localize the clone first")
    def meta(df: DataFrame): DataFrame =
      if (!withPos) df
      else df.select(
        (df.columns.toSeq.map(org.apache.spark.sql.functions.col) ++
          posCols(learnedPrefix(names))): _*)
    if (groups.size <= 1) {
      // FOOTER-SERVED scan schema: when every file's parquet footer
      // records the same Spark schema (order included), the scan plans
      // with it explicitly — no schema-inference job. The footer JSON
      // is the very thing inference deserializes, so this is
      // byte-identical to the inferred schema (NOT the manifest
      // schema: some verbs record the name-SORTED unified order while
      // footers keep the physical write order). On a partitioned table
      // the footers lack the partition columns, which ride in paths:
      // basePath discovery appends them after the declared ones, where
      // inference puts them — unless a footer column shares a key's
      // name, which keeps inference.
      val uniform: Option[StructType] =
        if (names.isEmpty) None
        else SchemaTools.uniformFooterSchema(spark, names.map(dataPath))
          .filterNot(_.fieldNames.exists(n =>
            partitionCols.exists(_.equalsIgnoreCase(n))))
      val s = meta(scan(uniform, names.map(dataPath)))
      // partition VALUES live in paths, so their types come from
      // Spark's path inference (bucket=0 reads back int) — cast them
      // to the RECORDED types when a committed schema carries them
      // (numeric-string partition values must round-trip as declared)
      val declaredParts: Map[String, org.apache.spark.sql.types.DataType] =
        known.headOption.map(_._2.fields
          .filter(f => partitionCols.contains(f.name))
          .map(f => f.name -> f.dataType).toMap).getOrElse(Map.empty)
      val fix = s.schema.fields.filter(f =>
        declaredParts.get(f.name).exists(_ != f.dataType))
      if (!partitioned || fix.isEmpty) s
      else s.select(s.columns.toSeq.map { c =>
        declaredParts.get(c) match {
          case Some(t) => org.apache.spark.sql.functions
            .col(c).cast(t).as(c)
          case None => org.apache.spark.sql.functions.col(c)
        }
      }: _*)
    }
    else {
      val unified = SchemaTools.unifySchemas(groups.map(_.head._2))
      val keep =
        if (!withPos) Seq.empty[String] else Seq("__file_name", "__row_pos")
      groups.map { g =>
        val s = meta(scan(Some(g.head._2), g.map(x => dataPath(x._1))))
        val have = s.columns.toSet
        s.select((unified.fields.toSeq.map { f =>
          if (have.contains(f.name))
            org.apache.spark.sql.functions.col(f.name)
              .cast(f.dataType).as(f.name)
          else org.apache.spark.sql.functions.lit(null)
            .cast(f.dataType).as(f.name)
        } ++ keep.map(org.apache.spark.sql.functions.col)): _*)
      }.reduce(_.unionByName(_))
    }
  }

  private def assembleRead(r: Resolved, predicate: Option[String])
      : DataFrame = {
    if (r.data.isEmpty) return spark.emptyDataFrame
    val marker = SchemaTools.readSchemaMarkerInfo(spark, root)
    val mappingActive =
      marker.exists(i => i.renames.nonEmpty || i.dropped.nonEmpty)
    val scanNames = predicate.filter(_ => !mappingActive)
      .flatMap(p => prunedLive(p, r.data, r.spanOf))
      .getOrElse(r.data)
    // the two tombstone classes subtract independently: keyed MOR
    // deletes by key equality, positional deletion vectors by
    // (file, row position) — the latter needs the scan to carry its
    // positions, free when no marks stand
    val (dvNames, keyedNames) = r.tombstones.partition(isDvName)
    val base =
      if (scanNames.isEmpty)
        // every file pruned out: keep the (unified) schema, zero rows
        readConformed(r.data, r.schemaOf).limit(0)
      else readConformed(scanNames, r.schemaOf,
        withPos = dvNames.nonEmpty)
    // tombstone keys are physical names: subtract BEFORE the mapping,
    // exactly like LakeReader.load
    val keySubtracted =
      if (keyedNames.isEmpty || scanNames.isEmpty) base
      else {
        val paths = keyedNames.map(dataPath)
        val ts = readerFor(paths).parquet(paths: _*).distinct()
        // broadcast only while the debt is small (applyTombstones
        // folding bounds it by contract, but the contract must not be
        // the only thing between a lazy user and a driver OOM)
        base.join(
          SchemaTools.broadcastIfUnder(spark, ts,
            SchemaTools.bytesOf(spark, paths)),
          ts.columns.map(k => base(k) <=> ts(k)).reduce(_ && _),
          "left_anti")
      }
    val subtracted =
      if (dvNames.isEmpty || scanNames.isEmpty) keySubtracted
      else minusDv(keySubtracted, dvNames)
    val mapped = marker
      .map(i => SchemaTools.applyRenames(subtracted, i.renames)
        .drop(i.dropped.toSeq: _*))
      .getOrElse(subtracted)
    predicate.map(mapped.filter).getOrElse(mapped)
  }

  /** MERGE-ON-READ keyed delete COMMITTED THROUGH THE LOG (the
    * multi-writer sibling of [[RowOps.deleteKeysMor]]): the key batch
    * lands as an immutable tombstone file and a `delete` commit claims
    * a version for it — an O(batch) append touching zero data files,
    * versioned like every other change, so time travel before the
    * delete still serves the rows and a later replace voids the debt
    * (its writer read through the tombstones). Tombstone files carry
    * ONLY the key columns; their schema IS the key list. */
  def deleteKeysMor(keyBatch: DataFrame, keys: Seq[String]): Long = {
    require(keys.nonEmpty, "deleteKeysMor needs at least one key column")
    // key-schema lock applies to the KEYED class only (positional
    // `dv-*` marks are a separate class with their own fixed schema)
    val existing = resolve(None).tombstones.filterNot(isDvName)
    if (existing.nonEmpty) {
      val prior = SchemaTools
        .uniformFooterSchema(spark, Seq(dataPath(existing.head)))
        .map(_.fieldNames.toSeq)
        .getOrElse(
          spark.read.parquet(dataPath(existing.head)).columns.toSeq)
        .sorted
      require(prior == keys.sorted,
        s"tombstones here already use keys ${prior.mkString(", ")}")
    }
    // tombstone files are FLAT (key columns only — their schema IS
    // the key list), whatever the table's data layout
    val names = stage(keyBatch
      .select(keys.map(org.apache.spark.sql.functions.col): _*)
      .distinct(), flat = true)
    val spans = spansOf(names)
    new Txn("deleteKeysMor")
      .run(_ => Some(Action("delete", names, stats = spans))).get
  }

  /** Incremental consumption between versions — the commit log's CDC
    * surface (the multi-writer sibling of TimeFly.readSince): exactly
    * the rows committed in (sinceVersion, asOf]. Valid while every
    * commit in the range is an APPEND — a replace re-homes existing
    * rows into new files and breaks increment semantics, so consumers
    * must re-baseline past one (the same rule every file-diff CDC
    * documents); this refuses loudly instead of double-counting.
    * `skipBreaking` (Delta's ignoreChanges contract) opts out of the
    * refusal: upsert commits deliver their merged output files as
    * plain rows (consumers accept re-delivery of carried survivors),
    * delete/replace/restore/clone commits deliver nothing. */
  def readSince(sinceVersion: Long, asOf: Option[Long] = None,
      skipBreaking: Boolean = false): DataFrame = {
    val hi = asOf.getOrElse(latestVersion())
    require(sinceVersion >= 0 && sinceVersion <= hi,
      s"bad version range ($sinceVersion, $hi]")
    val cs = (sinceVersion + 1 to hi).map(commit)
    // replaces re-home existing rows; deletes change visibility of
    // rows OUTSIDE the increment; upserts MUTATE rows in place and
    // restores re-home visibility wholesale — all four break "the
    // rows committed in the range" as a pure append stream.
    // REWRITES are fine: they add no rows (their packed outputs carry
    // exactly the compacted inputs' rows, and those inputs stay on
    // disk for the increment's own read) — skip them, deliver nothing.
    // `skipBreaking` (Delta's ignoreChanges contract) delivers the
    // breaking commits' NEW files as plain rows instead of refusing —
    // the consumer opts into possible re-delivery/missed deletes.
    val breaking = cs.filter(c => c.kind == "replace" ||
      c.kind == "delete" || c.kind == "upsert" ||
      c.kind == "restore" || c.kind == "clone")
    require(skipBreaking || breaking.isEmpty,
      s"${breaking.map(c => s"${c.kind} v${c.version}").mkString(", ")} " +
        "inside the increment — re-baseline on the mutated state")
    val delivered = cs.filter(c => c.kind == "append" ||
      (skipBreaking && c.kind == "upsert"))
    val files = delivered.flatMap(_.files)
    if (files.isEmpty) read(None).limit(0)
    else {
      // drifted appends inside the increment conform to the
      // increment's own unified schema — the consumer sees evolution
      // exactly as the full read does
      val schemaOf = delivered.flatMap(c =>
        c.schema.toSeq.flatMap(st => c.files.map(_ -> st))).toMap
      readConformed(files, schemaOf)
    }
  }

  /** ROW-LEVEL CHANGE FEED — [[readSince]] extended with DELETE
    * visibility (the Delta CDF shape on the multi-writer flavor):
    * appends emit their rows tagged `_op = insert`, KEYED delete
    * commits emit their tombstone KEYS tagged `_op = delete` (key
    * columns only — other columns null through the allow-missing
    * union), POSITIONAL delete commits emit their marked rows'
    * FULL pre-images tagged `_op = delete` (r10 — the marks name
    * exact (file, row position) pre-images, all still readable
    * because data files are immutable; one guarded-broadcast
    * semi-join per dv commit, O(marks)), rewrites emit nothing (no
    * new rows), every row carries its `_commit_version` so a
    * consumer applies in commit order and keys idempotence by
    * version. MERGE/upsert/UPDATE/DELETE-WHERE commits on a table
    * with the change data feed enabled ([[CommitLog.CdfEnabledKey]])
    * decompose from their persisted `_change_data` rows (`_op` also
    * spans update_preimage / update_postimage — Delta CDF's row
    * shape). A replace in the range — or a mutating commit WITHOUT
    * persisted change rows — REFUSES (it re-homes rows the consumer
    * already applied; re-baseline), unless `skipBreaking` (the
    * streaming source's skipChangeCommits) opts into dropping such
    * commits from the feed.
    * Cost is O(files in the range's commits), never the lake. */
  def changesSince(sinceVersion: Long, asOf: Option[Long] = None,
      skipBreaking: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val hi = asOf.getOrElse(latestVersion())
    require(sinceVersion >= 0 && sinceVersion <= hi,
      s"bad version range ($sinceVersion, $hi]")
    val cs0 = (sinceVersion + 1 to hi).map(commit)
    // `skipBreaking` (the streaming source's skipChangeCommits): drop
    // the non-decomposable commits from the feed instead of refusing —
    // the consumer opts into missing their changes
    def nonDecomposable(c: CommitLog.Commit): Boolean =
      c.kind == "replace" || c.kind == "restore" || c.kind == "clone" ||
        (c.kind == "upsert" && c.changeFiles.isEmpty)
    val cs = if (!skipBreaking) cs0 else cs0.filterNot(nonDecomposable)
    // an upsert's merged outputs mix carried-over survivors with
    // changed rows — not separable from METADATA into change rows —
    // and a restore re-homes visibility wholesale; both refuse like a
    // replace (Delta CDF's own rule for non-decomposable commits).
    // EXCEPT: with the change feed enabled ([[CommitLog.CdfEnabledKey]])
    // merge/upsert commits persisted their exact change rows at commit
    // time, so they decompose from their `_change_data` files.
    val breaking = cs.filter(nonDecomposable)
    require(breaking.isEmpty,
      s"${breaking.map(c => s"${c.kind} v${c.version}").mkString(", ")} " +
        "inside the range re-homes already-applied rows — re-baseline " +
        s"(or enable '${CommitLog.CdfEnabledKey}' so future mutating " +
        "commits persist change rows)")
    val parts = cs
      .filter(c =>
        ((c.kind == "append" || c.kind == "delete") && c.files.nonEmpty)
          || (c.kind == "upsert" && c.changeFiles.nonEmpty))
      .map { c =>
        if (c.kind == "upsert") {
          // CDF change files carry their own schema + `_op` (insert /
          // update_preimage / update_postimage / delete) — read as
          // written; drift across the range unions allow-missing
          locally {
            val ps = c.changeFiles
              .map(n => new Path(changeDataDir, n).toString)
            readerFor(ps).parquet(ps: _*)
              .withColumn("_commit_version", lit(c.version))
          }
        } else
        if (c.kind == "delete" && c.files.exists(isDvName)) {
          // positional delete commits DECOMPOSE (r10): the dv marks
          // name exact (file, row position) pre-images, all still
          // readable because data files are immutable — emit them as
          // full-row `_op=delete` rows (Delta CDF's row shape; the
          // replica applies them with whatever key it owns). One
          // guarded-broadcast semi-join per dv commit, O(marks).
          val dvPaths = c.files.map(dataPath)
          val dvf = readerFor(dvPaths).parquet(dvPaths: _*)
          val markedFiles = SchemaTools.distinctStrings(dvf, "__dv_file")
          val r = resolve(Some(c.version))
          val pre = readConformed(markedFiles, r.schemaOf,
            withPos = true)
          pre.join(
            SchemaTools.broadcastIfUnder(spark, dvf,
              SchemaTools.bytesOf(spark, dvPaths)),
            pre("__file_name") === dvf("__dv_file") &&
              pre("__row_pos") === dvf("__dv_pos"),
            "left_semi")
            .drop("__file_name", "__row_pos")
            .withColumn("_op", lit("delete"))
            .withColumn("_commit_version", lit(c.version))
        } else {
          val op = if (c.kind == "delete") "delete" else "insert"
          val schemaOf = c.schema
            .map(st => c.files.map(_ -> st).toMap).getOrElse(Map.empty)
          readConformed(c.files, schemaOf)
            .withColumn("_op", lit(op))
            .withColumn("_commit_version", lit(c.version))
        }
      }
    if (parts.isEmpty)
      read(None).limit(0)
        .withColumn("_op", lit("insert"))
        .withColumn("_commit_version", lit(0L))
    else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The commit log AS A STRUCTURED STREAM — one row per commit:
    * `(version, kind, files)`. Commit manifests are immutable files
    * made visible ATOMICALLY ([[tryCas]]), so Spark's file streaming
    * source over the commits directory is an incremental commit reader
    * with exactly-once delivery for free (the file source's seen-files
    * log under `checkpointLocation` — the same machinery as any
    * parquet stream, applied to the log itself). This is the streaming
    * sibling of [[readSince]]: the Delta "stream from a table" story
    * for a multi-writer dataset. Consumers resolve each manifest's
    * files themselves (paths via [[dataPath]]/`data/`) and MUST refuse
    * non-append kinds — a replace re-homes rows the consumer already
    * ingested, a delete changes visibility of rows outside the
    * increment; both require a re-baseline, exactly like readSince.
    * Downstream exactly-once across checkpoint loss = keying the sink
    * by `version` (commits are the idempotence unit). */
  def readStreamCommits(maxPerTrigger: Int = 1): DataFrame = {
    import org.apache.spark.sql.functions.{input_file_name, regexp_extract}
    import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
    val sch = StructType(Seq(
      StructField("kind", StringType),
      StructField("files", ArrayType(StringType))))
    spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", maxPerTrigger)
      // v%020d.json only: digits before the extension exclude
      // `*.checkpoint.json`, the dot prefix hides commit temp files
      .json(new Path(commitsDir, "v*[0-9].json").toString)
      .withColumn("version",
        regexp_extract(input_file_name(), "v(\\d+)\\.json$", 1)
          .cast("long"))
  }

  /** Resolve a streamed commit's file names to readable paths. */
  def filePaths(names: Seq[String]): Seq[String] = names.map(dataPath)

  /** ADOPT an existing plain dataset into the commit-log flavor: its
    * data files MOVE into `data/` (renames, zero copy — adopting
    * 100 TB must not duplicate it) and land as commit v1, after which
    * every writer goes through the protocol. A HIVE-PARTITIONED
    * source adopts layout and all: files keep their `<k>=<v>/`
    * relative paths, the partitioning marker records the columns, and
    * every adopted file's partition values fold into its spans — the
    * layout most real lakes use moves in without rewriting a byte.
    * Refuses a log that already has commits (adoption is a bootstrap,
    * not a merge). */
  def adopt(sourcePath: String): Long = {
    require(latestVersion() == 0L,
      "adopt bootstraps an empty log; this one has commits")
    val hive = SchemaTools.inferPartitioning(spark, sourcePath) == "hive"
    init()
    val files = SchemaTools.listDataFiles(spark, sourcePath)
    require(files.nonEmpty, s"nothing to adopt at $sourcePath")
    val srcRoot = fs.makeQualified(new Path(sourcePath)).toUri
    def relOf(f: String): String =
      srcRoot.relativize(fs.makeQualified(new Path(f)).toUri).getPath
    if (hive) {
      val pcols = relOf(files.head).split('/').dropRight(1).toSeq
        .filter(_.contains('=')).map(_.takeWhile(_ != '='))
      initPartitioned(pcols)
    }
    // record the adopted schema when the source is known-homogeneous,
    // so post-adoption reads never pay a per-file footer probe; a
    // heterogeneous source's commit stays schema-less (the bounded
    // legacy fallback) until an optimize heals it. Partitioned
    // sources record the FULL schema (partition columns included —
    // Spark's own inference supplies their types).
    val adoptedSchema = SchemaTools.datasetSchemaInfo(spark, sourcePath)
      .filter(_.homogeneous)
      .map(_ => spark.read.parquet(sourcePath).schema)
    val names = files.map { f =>
      val rel = if (hive) relOf(f) else new Path(f).getName
      val dest = new Path(dataDir, rel)
      if (rel.contains("/")) fs.mkdirs(dest.getParent)
      fs.rename(new Path(f), dest)
      rel
    }
    // spans only for a known-homogeneous source: a drifted source's
    // multi-file read could mis-resolve (the buildStats caveat), and
    // span-less adoption just reads unpruned until an optimize heals
    val adoptedStats =
      if (adoptedSchema.isDefined) spansOf(names, adoptedSchema)
      else Map.empty[String, FileSpans]
    new Txn("adopt", base = Some(0L)).run(_ => Some(Action("append",
      names, schema = adoptedSchema, stats = adoptedStats))).get
  }

  /** Stage `df`'s files into `data/` (invisible until committed) and
    * return their names — partition-qualified RELATIVE paths on a
    * partitioned table (`p=1/part-....parquet`), bare file names
    * otherwise. Task-file names are UUID-unique, so moves never
    * collide whatever the partition layout. */
  private def stage(df: DataFrame, flat: Boolean = false): Seq[String] = {
    val staging = new Path(root,
      s"_staged/${java.util.UUID.randomUUID().toString.take(12)}")
    val parts = if (flat) Nil else partitionCols
    if (parts.isEmpty) df.write.parquet(staging.toString)
    else df.write.partitionBy(parts: _*).parquet(staging.toString)
    val stagedRoot = fs.makeQualified(staging).toUri
    val files = SchemaTools.listDataFiles(spark, staging.toString)
    val names = files.map { f =>
      val p = fs.makeQualified(new Path(f))
      val rel = stagedRoot.relativize(p.toUri).getPath
      val dest = new Path(dataDir, rel)
      if (rel.contains("/")) fs.mkdirs(dest.getParent)
      fs.rename(p, dest)
      rel
    }
    fs.delete(staging, true)
    names
  }

  /** Serialize per-file schemas as GROUPS onto `node` (files sharing
    * a schema share one entry — checkpoints and RESTORE commits use
    * the same codec [[schemaGroupsOfNode]] reads). */
  private def putSchemaGroups(node: ObjectNode,
      schemaOf: Map[String, StructType]): Unit =
    if (schemaOf.nonEmpty) {
      val garr = node.putArray("schemaGroups")
      schemaOf.toSeq.groupMap(x => SchemaTools.schemaToMap(x._2))(_._1)
        .toSeq.sortBy(_._2.min)
        .foreach { case (schemaMap, files) =>
          val g = garr.addObject()
          val fa = g.putArray("files")
          files.sorted.foreach(fa.add)
          val sn = g.putObject("schema")
          schemaMap.toSeq.sortBy(_._1)
            .foreach { case (n, t) => sn.put(n, t) }
        }
    }

  /** Serialize per-file spans onto `node` (commits and checkpoints
    * share the codec [[statsOfNode]] reads). */
  private def putStats(node: ObjectNode,
      stats: Map[String, FileSpans]): Unit =
    if (stats.nonEmpty) {
      val sn = node.putObject("stats")
      stats.toSeq.sortBy(_._1).foreach { case (name, sp) =>
        val fn = sn.putObject(name)
        fn.put("n", sp.nRows)
        if (sp.cols.nonEmpty) {
          val cn = fn.putObject("cols")
          sp.cols.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
            val arr = cn.putArray(c)
            def put(side: Option[FileStats.SpanV]): Unit = side match {
              case None => arr.addNull()
              case Some(FileStats.NumV(v)) => arr.add(v)
              case Some(FileStats.StrV(v)) => arr.add(v)
            }
            put(mn); put(mx)
          }
        }
      }
    }

  /** Per-file spans for freshly-staged files — ONE bounded distributed
    * agg over just the batch (page-warm; same information Delta's
    * writer tasks collect inline). Typed: doubles for numeric /
    * timestamp / date columns, bounded prefixes for strings — the
    * [[FileStats]] discipline. */
  private def spansOf(names: Seq[String],
      tableSchema: Option[StructType] = None): Map[String, FileSpans] = {
    if (names.isEmpty) return Map.empty
    // Footer fast path (r13 opt): freshly-staged parquet already
    // carries exact per-file min/max + row counts in its footers —
    // read them on the driver (bounded threadpool, zero Spark jobs)
    // instead of re-scanning the batch. [[FileStats.footerSpans]]
    // guarantees span-for-span equality with the agg below or returns
    // None (decimal columns, INT96/nano timestamps, NaN spans, missing
    // stats), in which case the distributed agg still runs. Partition
    // values ride as exact spans either way.
    tableSchema.foreach { ts =>
      val declared = StructType(
        ts.fields.filterNot(f => partitionCols.contains(f.name)))
      FileStats.footerSpans(spark, names.map(dataPath), declared)
        .foreach { byPath =>
          return names.map { n =>
            val (nRows, cols) = byPath(dataPath(n))
            if (nRows == 0L) n -> FileSpans(0L, Map.empty)
            else n -> FileSpans(nRows,
              cols ++ partValuesOf(n).flatMap { case (k, v) =>
                partSpan(v, ts.find(_.name == k).map(_.dataType))
                  .map(k -> _)
              })
          }.toMap
        }
    }
    import org.apache.spark.sql.functions.{count, input_file_name, lit}
    // staged files carry the batch's own schema minus the partition
    // columns (stage() lays those out as directories); declaring it
    // skips the footer-sampling job every spark.read otherwise pays —
    // one fewer fixed job on EVERY commit. Unknown-schema callers
    // (tombstone stages) keep the inference read.
    val declared = tableSchema.map(ts => StructType(
      ts.fields.filterNot(f => partitionCols.contains(f.name))))
    val df = declared
      .map(sch => spark.read.schema(sch)
        .parquet(names.map(dataPath): _*))
      .getOrElse(spark.read.parquet(names.map(dataPath): _*))
    // even a schema with no indexable columns records n_rows per file
    // (history() serves operation metrics from it)
    val fields = FileStats.indexableFields(df.schema)
    val aggs = FileStats.typedSpanAggs(fields) :+
      count(lit(1)).as("n_rows")
    // map each scanned absolute path back to its committed RELATIVE
    // name. NOT by leaf: one partitionBy task writes the SAME leaf
    // name into every partition dir it touches, so leaf keys collide
    // across partitions.
    val m = df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val name = relName(r.getString(r.fieldIndex("file")))
        // partition values ride as exact spans — the Delta
        // partitionValues-per-AddFile design in span clothing, so
        // partition pruning IS span pruning
        val cols = fields
          .map(f => f.name -> FileStats.decodeSpan(r, f)).toMap ++
          partValuesOf(name).flatMap { case (k, v) =>
            partSpan(v, tableSchema.flatMap(
              _.find(_.name == k).map(_.dataType))).map(k -> _)
          }
        name -> FileSpans(r.getLong(r.fieldIndex("n_rows")), cols)
      }.toMap
    // a ZERO-ROW file (CREATE TABLE's schema anchor, a fully-filtered
    // write) yields no group above — record it explicitly so row
    // counts stay exact (history metrics, metadata-only count(*))
    m ++ names.filterNot(m.contains)
      .map(_ -> FileSpans(0L, Map.empty)).toMap
  }

  /** The commits that landed after a verb planned, `(plannedV, tip]`
    * (none when it planned on no version, `plannedV < 0`), read on first
    * use: an attempt whose rule never looks at them reads no manifest. */
  private final class Window(plannedV: Long, val tip: Long) {
    lazy val commits: Seq[Commit] =
      if (plannedV < 0) Nil else (plannedV + 1 to tip).map(commit)
  }

  private def conflict(why: String) =
    new java.util.ConcurrentModificationException(
      s"$why — re-plan on fresh state")

  /** The optimistic transaction every verb commits through; the class
    * doc states its protocol. `verb` names the verb in conflict
    * messages; `plannedV` is the version the verb planned on (the
    * window's lower bound); `rewrites` are the live files the commit
    * removes; `base` makes it exclusive (CAS only while the tip is
    * `base`, conflict instead of retrying); `enforce` gates the staged
    * files on the constraint set; `once` is an `(appId, batchId)` mark
    * whose presence in the log abandons the attempt; `beforeCommit` is
    * a test seam fired once, before the first attempt. [[run]] returns
    * the won version, or None when an attempt abandoned. */
  private final class Txn(verb: String, plannedV: Long = -1L,
      rewrites: Seq[String] = Nil, base: Option[Long] = None,
      enforce: Boolean = false, once: Option[(String, Long)] = None,
      beforeCommit: () => Unit = () => ()) {
    private val rewriting = rewrites.toSet

    private def lostBase(b: Long) = conflict(
      s"$verb planned on v$b but the log advanced to v${latestVersion()}")

    def run(attempt: Window => Option[Action]): Option[Long] = {
      beforeCommit()
      loop(attempt)
    }

    @annotation.tailrec
    private def loop(attempt: Window => Option[Action]): Option[Long] = {
      val tip = latestVersion()
      base.filter(_ != tip).foreach(b => throw lostBase(b))
      if (once.exists { case (app, b) => lastTxn(app).exists(_ >= b) })
        return None
      val w = new Window(plannedV, tip)
      if (rewriting.nonEmpty) {
        if (!rewriting.subsetOf(resolve(Some(tip)).data.toSet))
          throw conflict(s"$verb planned on files a concurrent commit " +
            "removed")
        conflictOnWindowDv(w.commits, rewrites)
      }
      val a = attempt(w) match {
        case Some(a) => a
        case None => return None
      }
      if (enforce) enforceConstraints(a.names)
      if (tryCas(tip + 1, a)) {
        afterCommit(a)
        Some(tip + 1)
      } else {
        base.foreach(b => throw lostBase(b))
        loop(attempt)
      }
    }
  }

  /** Sidecar upkeep and hooks after a won commit; the auto-checkpoint
    * already ran inside [[tryCas]]. Data files are immutable, so an
    * append's spans extend a standing sidecar. A replace or restore
    * leaves it describing a live set that is gone, and a rewrite that
    * removes live data files leaves stale rows: both drop it (readers
    * fall back to the log's spans until [[buildStats]]). Meta commits,
    * deletes and tombstone-only rewrites leave it. */
  private def afterCommit(a: Action): Unit = {
    val dropsLive = a.kind == "replace" || a.kind == "restore" ||
      ((a.kind == "rewrite" || a.kind == "upsert") &&
        a.removed.exists(!isDvName(_)))
    if (a.kind == "append") maintainStats(a.names, a.schema)
    else if (dropsLive) FileStats.invalidate(spark, root)
    notifyCommit()
  }

  /** Write `a` as version `v` if the slot is free; true when this
    * writer won it. */
  private def tryCas(v: Long, a: Action): Boolean = {
    val node = mapper.createObjectNode()
    node.put("kind", a.kind)
    if (a.changeFiles.nonEmpty) {
      val cfArr = node.putArray("changeFiles")
      a.changeFiles.foreach(cfArr.add)
    }
    a.clusteredKeys.foreach { ks =>
      node.put("clustered", true)
      node.put("clusterKeys", ks)
    }
    a.constraints.foreach { cs =>
      val cn = node.putObject("constraints")
      cs.toSeq.sortBy(_._1).foreach { case (n, p) => cn.put(n, p) }
    }
    a.props.foreach { ps =>
      val pn = node.putObject("props")
      ps.toSeq.sortBy(_._1).foreach { case (k, v) => pn.put(k, v) }
    }
    // commit timestamp, forced monotone across versions (the Delta
    // in-commit-timestamp rule): a later version never records an
    // earlier instant, whatever this writer's wall clock says — one
    // O(1) read of the previous retained manifest (v-1 by density;
    // the listing only when retention already expired it)
    val prevTs = {
      val pv = v - 1
      if (pv >= 1 && fs.exists(versionFile(pv))) commit(pv).ts
      else existingVersions().filter(_ < v).lastOption
        .map(p => commit(p).ts).getOrElse(0L)
    }
    node.put("ts", math.max(clock(), prevTs + 1))
    val arr = node.putArray("files")
    a.names.foreach(arr.add)
    if (a.removed.nonEmpty) {
      val rarr = node.putArray("removed")
      a.removed.foreach(rarr.add)
    }
    a.txn.foreach { case (app, batch) =>
      val t = node.putObject("txn")
      t.put("app", app)
      t.put("batch", batch)
    }
    a.schema.foreach { st =>
      val sn = node.putObject("schema")
      SchemaTools.schemaToMap(st).toSeq.sortBy(_._1)
        .foreach { case (n, t) => sn.put(n, t) }
    }
    putSchemaGroups(node, a.schemaGroups)
    putStats(node, a.stats)
    val vf = versionFile(v)
    // Commit visibility is ATOMIC: the full payload lands in a temp
    // file first, then links/renames into the version slot in one
    // operation that doubles as the CAS. A reader can never see an
    // empty or partial manifest, and a crash before the link leaves
    // only temp debris (vacuum sweeps it) — never a burned version.
    //  - file://: link(2) via Files.createLink — kernel-atomic,
    //    fails if the slot exists (claim + visibility in one syscall;
    //    rename(2) would silently overwrite, so it cannot be the CAS)
    //  - HDFS and rename-consistent stores: rename(tmp, vf) refuses an
    //    existing destination — the same no-overwrite CAS
    //  - S3: maps to a conditional PUT (If-None-Match: *) carrying the
    //    full body, atomic natively
    val tmp = new Path(commitsDir,
      s".tmp-${java.util.UUID.randomUUID().toString.take(12)}.json")
    val out = fs.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(node))
    finally out.close()
    val claimed =
      if (fs.getUri.getScheme == "file") {
        val target = java.nio.file.Paths.get(vf.toUri.getPath)
        val source = java.nio.file.Paths.get(tmp.toUri.getPath)
        try { java.nio.file.Files.createLink(target, source); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: java.io.IOException => false
        }
      } else {
        try fs.rename(tmp, vf)
        catch { case _: java.io.IOException => false }
      }
    // link leaves the temp in place; a failed rename does too — either
    // way the slot's visibility is already decided, so sweep quietly
    if (fs.exists(tmp)) fs.delete(tmp, false)
    if (claimed) maybeAutoCheckpoint(v)
    claimed
  }

  /** Automatic checkpoint cadence (the Delta `checkpointInterval`
    * rule): after this handle wins version `v`, fold the log when `v`
    * crosses a multiple of `graft.checkpoint.interval` (default 10;
    * `0` disables). Keeps every reader's replay tail bounded without
    * anyone calling [[checkpoint]] by hand. Failures are swallowed —
    * a checkpoint is a performance fact, never a correctness one, and
    * it must never fail the commit that triggered it. Racing writers
    * may both checkpoint the same region; last rename wins and both
    * payloads are identical (resolution at an immutable version). */
  private def maybeAutoCheckpoint(v: Long): Unit = {
    val interval = scala.util.Try(properties(Some(v))
      .getOrElse("graft.checkpoint.interval", "10").trim.toInt)
      .getOrElse(10)
    if (interval > 0 && v % interval == 0)
      try checkpoint(v)
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Align a LOGICAL-named frame to the files' frozen PHYSICAL schema
    * under active column mapping ([[doUpsert]]'s discipline): unapply
    * the renames, land dropped physical columns as nulls — so every
    * append keeps the uniform physical schema and a read never sees
    * the same logical name twice. Identity without a mapping. */
  private def alignToPhysical(df: DataFrame): DataFrame =
    SchemaTools.readSchemaMarkerInfo(spark, root) match {
      case Some(i) if i.renames.nonEmpty || i.dropped.nonEmpty =>
        val r = resolve(None)
        if (r.data.isEmpty) df
        else SchemaTools.conformTo(
          SchemaTools.unapplyRenames(df, i.renames),
          readConformed(r.data, r.schemaOf).schema)
      case _ => df
    }

  /** Append `df`. Appends commute, so this writer always wins some
    * version; returns it. Callers speak LOGICAL names — under active
    * column mapping the batch aligns to the physical schema first
    * ([[alignToPhysical]]). */
  def append(input: DataFrame): Long = {
    val df = alignToPhysical(input)
    val names = stage(df)
    val spans = spansOf(names, Some(df.schema))
    new Txn("append", enforce = true).run(_ => Some(Action("append",
      names, schema = Some(df.schema), stats = spans))).get
  }

  /** Standing AUTO-COLUMN declarations: (identity specs by column —
    * (start, step, allowExplicitInsert) — and generated-column
    * expressions by column). Declared at CREATE TABLE, carried as
    * namespaced table properties ([[CommitLog.IdentityColPrefix]] /
    * [[CommitLog.GeneratedColPrefix]]). */
  def autoColumns(asOf: Option[Long] = None)
      : (Map[String, (Long, Long, Boolean)], Map[String, String]) = {
    val ps = properties(asOf)
    val ids = ps.collect {
      case (k, v) if k.startsWith(CommitLog.IdentityColPrefix) =>
        val Array(st, sp, ex) = v.split(',')
        k.stripPrefix(CommitLog.IdentityColPrefix) ->
          ((st.toLong, sp.toLong, ex.toBoolean))
    }
    val gens = ps.collect {
      case (k, v) if k.startsWith(CommitLog.GeneratedColPrefix) =>
        k.stripPrefix(CommitLog.GeneratedColPrefix) -> v
    }
    (ids, gens)
  }

  /** Standing DEFAULT column values (column -> value SQL). */
  def defaultColumns(asOf: Option[Long] = None): Map[String, String] =
    properties(asOf).collect {
      case (k, v) if k.startsWith(CommitLog.DefaultColPrefix) =>
        k.stripPrefix(CommitLog.DefaultColPrefix) -> v
    }

  /** SYNC IDENTITY (Delta's `ALTER TABLE .. ALTER COLUMN .. SYNC
    * IDENTITY`): re-derive the high-water mark from the DATA — the
    * extreme standing value in the step direction, or back to the
    * declared start on an empty table. The recovery verb after a
    * RESTORE (the mark survives restores, leaving a gap) or bulk
    * explicit loads. Run it quiesced: a writer allocating between the
    * scan and the meta commit can re-advance past the synced mark.
    * Returns the meta-commit version. */
  def syncIdentity(c: String): Long = {
    import org.apache.spark.sql.functions.{col, max => fmax, min => fmin}
    val (ids, _) = autoColumns()
    require(ids.contains(c), s"$c is not an identity column")
    val (_, step, _) = ids(c)
    val key = s"${CommitLog.IdentityHwmPrefix}$c"
    val row = read(None)
      .agg(if (step > 0) fmax(col(c)) else fmin(col(c))).head()
    if (row.isNullAt(0)) unsetProperties(Seq(key), ifExists = true)
    else setProperties(Map(key -> row.get(0).toString))
  }

  /** One stable global row index per input row — zipWithIndex's
    * scheme (per-partition counts, then per-partition offsets) kept
    * entirely in the DataFrame plane: `monotonically_increasing_id`
    * is `(partition << 33) + row-in-partition`, so the low 33 bits
    * are the in-partition index and one tiny count-per-partition agg
    * (rows = task count, collected) gives the offsets, broadcast back
    * as a join. No global sort, no single-partition window, no
    * RDD ser/deser round-trip — the whole pass stays codegen'd.
    * Caveats it inherits from zipWithIndex: one extra computation of
    * the input, and indexes are stable only as deterministic as the
    * input's partitioning (the allocator re-derives on CAS retry
    * anyway). Partitions stay under 2^33 rows (Spark's own m_i_i
    * envelope). */
  private def zipIndex(df: DataFrame): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.{broadcast, col, count, lit,
      monotonically_increasing_id, raise_error, spark_partition_id,
      when}
    val marked = df
      .withColumn("__pid", spark_partition_id())
      .withColumn("__inpart", monotonically_increasing_id()
        .bitwiseAND(lit((1L << 33) - 1)))
    val counts = marked.groupBy("__pid")
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, n)) =>
      (pid, acc + n) }
    val offDf = spark.createDataFrame(
      counts.zip(offsets.dropRight(1).map(_._2)).toSeq
        .map { case ((pid, _), off) => (pid, off) })
      .toDF("__pid", "__off")
    // LEFT join + loud per-row guard: the input recomputes between
    // the counts job and this join, and a partitioning that shifted
    // (AQE re-coalescing, a non-deterministic upstream) must FAIL,
    // not silently drop the rows whose partition id the counts pass
    // never saw
    val out = marked.join(broadcast(offDf), Seq("__pid"), "left")
      .withColumn("__idx",
        when(col("__off").isNotNull, col("__off") + col("__inpart"))
          .otherwise(raise_error(lit(
            "identity allocation: input partitioning shifted between " +
              "the counts pass and the index pass — re-run the " +
              "INSERT (materialize a non-deterministic source first)"))
            .cast(org.apache.spark.sql.types.LongType)))
      .drop("__pid", "__inpart", "__off")
    (out, counts.map(_._2).sum)
  }

  /** Append resolving AUTO COLUMNS (Delta's identity / generated
    * column write path):
    *  - a GENERATED column absent from the input computes from its
    *    expression; provided values must MATCH the expression or the
    *    batch refuses (Delta validates, never silently overwrites)
    *  - an IDENTITY column absent from the input allocates
    *    `hwm + step, hwm + 2*step, ...` off the table's high-water
    *    mark; explicit values refuse under GENERATED ALWAYS and are
    *    accepted under BY DEFAULT (the hwm advances past their max so
    *    later allocations never collide)
    * The hwm update rides the SAME commit as the rows (one CAS), so
    * two concurrent writers allocating from the same mark cannot both
    * win — the loser re-reads the advanced mark and re-allocates.
    * Values are unique and batch-monotone, NOT gap-free across
    * batches (Delta's contract). Input rows missing other columns
    * null-fill like every conforming writer; a table with no auto
    * columns degrades to a plain [[append]]. */
  def appendResolvingDefaults(input: DataFrame): Long = {
    import org.apache.spark.sql.functions.{col, expr, lit, max => fmax}
    val (ids, gens) = autoColumns()
    val defs = defaultColumns()
    if (ids.isEmpty && gens.isEmpty && defs.isEmpty)
      return append(input)
    val tSchema = read(None).schema
    require(tSchema.nonEmpty,
      "auto columns need a declared schema (CREATE TABLE first)")
    val have = input.columns.toSet
    var df = input
    // DEFAULT values: fill when omitted; explicit values (incl. NULL)
    // win, never validated
    defs.foreach { case (c, sql) =>
      if (!have.contains(c))
        df = df.withColumn(c, expr(sql).cast(tSchema(c).dataType))
    }
    // PRESENT generated values VALIDATE (never silently overwritten —
    // Delta's rule); ABSENT ones compute. Both happen inside the
    // staging loop AFTER identity allocation, so a generation
    // expression may reference an identity column and see its
    // allocated value (the merge insert branch's ordering) whether
    // the generated column was provided or not.
    val (presentGens, absentGens) =
      gens.partition { case (c, _) => have.contains(c) }
    val explicit = ids.keys.filter(have.contains).toSeq.sorted
    explicit.foreach { c => require(ids(c)._3,
      s"column $c is GENERATED ALWAYS AS IDENTITY — explicit values " +
        "refuse (declare GENERATED BY DEFAULT AS IDENTITY to allow)") }
    val toAlloc = ids.keys.filterNot(have.contains).toSeq.sorted
    // batch facts computed ONCE (rows never change across CAS retries):
    // the row count the allocator advances by, and each explicit
    // column's max for the hwm bump
    // extreme explicit value IN THE STEP DIRECTION (max for ascending
    // identities, min for descending) — what the hwm must clear
    val explicitExt: Map[String, Option[Long]] =
      if (explicit.isEmpty) Map.empty
      else {
        val aggs = explicit.map { c =>
          if (ids(c)._2 > 0) fmax(col(c))
          else org.apache.spark.sql.functions.min(col(c))
        }
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        explicit.zipWithIndex.map { case (c, i) =>
          c -> (if (row.isNullAt(i)) None
                else Some(row.get(i).toString.toLong)) }.toMap
      }
    // batch row count rides out of zipIndex's own counts pass — no
    // separate count job over the (possibly expensive) input
    var n: Long = 0L
    def hwmKey(c: String) = s"${CommitLog.IdentityHwmPrefix}$c"
    def hwmOf(ps: Map[String, String], c: String): Long =
      ps.get(hwmKey(c)).map(_.toLong)
        .getOrElse(ids(c)._1 - ids(c)._2)
    ensureMetaHint() // the props fold must see the hwm commit
    var staged: Seq[String] = Nil
    var stagedBases: Map[String, Long] = null
    var spans: Map[String, CommitLog.FileSpans] = Map.empty
    var outSchema: StructType = null
    def sweep(): Unit =
      staged.foreach(nm => fs.delete(new Path(dataDir, nm), false))
    new Txn("append", enforce = true).run { w =>
      val ps = properties(Some(w.tip))
      val bases = toAlloc.map(c => c -> hwmOf(ps, c)).toMap
      if (staged.isEmpty || bases != stagedBases) {
        // (re)allocate off the CURRENT marks and stage — a lost race
        // that moved a mark invalidates previously staged ids
        sweep()
        var out = df
        if (toAlloc.nonEmpty) {
          val (indexed, total) = zipIndex(out)
          out = indexed
          n = total
          toAlloc.foreach { c =>
            val (_, step, _) = ids(c)
            out = out.withColumn(c,
              (lit(bases(c)) + (col("__idx") + 1L) * step)
                .cast(tSchema(c).dataType))
          }
          out = out.drop("__idx")
        }
        absentGens.foreach { case (c, g) =>
          out = out.withColumn(c, expr(g).cast(tSchema(c).dataType))
        }
        presentGens.foreach { case (c, g) =>
          require(out.filter(
            !(col(c) <=> expr(g).cast(tSchema(c).dataType))).isEmpty,
            s"provided values for generated column $c do not satisfy " +
              s"its expression ($g) — omit the column or fix the values")
        }
        out = alignToPhysical(SchemaTools.conformTo(out, tSchema))
        staged = stage(out)
        stagedBases = bases
        spans = spansOf(staged, Some(out.schema))
        outSchema = out.schema
      }
      val newMarks: Map[String, String] =
        toAlloc.map { c =>
          hwmKey(c) -> (bases(c) + ids(c)._2 * n).toString }.toMap ++
        explicit.collect { case c
            if explicitExt(c).exists(e =>
              if (ids(c)._2 > 0) e > hwmOf(ps, c)
              else e < hwmOf(ps, c)) =>
          hwmKey(c) -> explicitExt(c).get.toString }
      Some(Action("append", staged, schema = Some(outSchema),
        stats = spans, props = Some(ps ++ newMarks)))
    }.get
  }

  /** COPY INTO — idempotent file ingest (Databricks' verb, Delta's
    * file-identity dedup design): load the files under `srcPath`
    * into the table EXACTLY ONCE. Identity is (path, size, mtime);
    * files already recorded as loaded are skipped, so re-running the
    * same statement after a partial ingest, a crash, or on a schedule
    * never duplicates rows. `force` reloads regardless (Delta's
    * COPY_OPTIONS force — duplicates by design) while still recording
    * identities.
    *
    * The loaded-file registry is a per-run PARQUET manifest under
    * `_copy/` (one row per source file), written before the CAS and
    * referenced from the commit by a namespaced table property
    * ([[CommitLog.CopyRunPrefix]]`<version>` -> run dir) — so the
    * registry is transactional (an orphan manifest whose commit never
    * landed counts nothing), versioned, and checkpoint-folded with
    * the rest of the property set. At scale: the dedup is one
    * left_anti join of the candidate listing against the distributed
    * union read of the manifests — never a driver-side set of all
    * history, and each run's manifest is O(files in that run).
    *
    * Schema: an empty table adopts the source schema; a standing
    * schema requires the same column NAMES (values cast to standing
    * types); `mergeSchema` appends source-only columns instead
    * (the [[merge]] evolution rule). NOT NULL / CHECK invariants gate
    * the load like every writer. Concurrency: the commit is a plain
    * append (appends commute); a concurrent copy run landing in the
    * CAS window re-derives the loaded set and re-plans, so two racing
    * copies of the same files still load them once. RESTORE keeps the
    * registry (it restores DATA state only) — reload after a restore
    * with `force`.
    *
    * Returns (version, files loaded, rows loaded); a fully-loaded
    * source burns NO commit. */
  def copyInto(
      srcPath: String,
      format: String = "parquet",
      pattern: Option[String] = None,
      force: Boolean = false,
      formatOptions: Map[String, String] = Map.empty,
      mergeSchema: Boolean = false): (Long, Long, Long) = {
    val fmt = format.toLowerCase(java.util.Locale.ROOT)
    require(Seq("parquet", "csv", "json").contains(fmt),
      s"unsupported FILEFORMAT $fmt (PARQUET/CSV/JSON)")
    val srcP = new Path(srcPath)
    val sfs = srcP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(sfs.exists(srcP), s"COPY INTO source $srcPath does not exist")
    // identity marks and generated-column validation do not ride the
    // copy path — silent mark corruption is worse than a refusal
    val (cIds, cGens) = autoColumns()
    require(cIds.isEmpty && cGens.isEmpty,
      "COPY INTO a table with identity/generated columns is not " +
        "supported — load through INSERT INTO ... SELECT")
    // the copy path matches source files against the PHYSICAL schema;
    // a logical mapping would silently duplicate renamed columns
    require(!SchemaTools.readSchemaMarkerInfo(spark, root)
        .exists(i => i.renames.nonEmpty || i.dropped.nonEmpty),
      "COPY INTO under active column mapping is not supported — " +
        "load through INSERT INTO ... SELECT")
    val candidates: Seq[org.apache.hadoop.fs.FileStatus] = pattern match {
      case Some(g) => Option(sfs.globStatus(new Path(srcP, g)))
        .map(_.toSeq).getOrElse(Nil).filter(_.isFile)
      case None => SchemaTools.listDataFiles(spark, srcPath)
        .map(f => sfs.getFileStatus(new Path(f)))
    }
    val plannedV = latestVersion()
    if (candidates.isEmpty) return (plannedV, 0L, 0L)
    import spark.implicits._
    val candDF = candidates
      .map(st => (st.getPath.toString, st.getLen,
        st.getModificationTime))
      .toDF("src_path", "src_size", "src_mtime")
    val idCols = Seq("src_path", "src_size", "src_mtime")
    def loadedDF(asOf: Long): Option[DataFrame] = {
      val runs = properties(Some(asOf)).collect {
        case (k, dir) if k.startsWith(CommitLog.CopyRunPrefix) => dir
      }.toSeq
      if (runs.isEmpty) None
      else {
        val dirs = runs.map(d => new Path(root, d).toString)
        val fsAll = dirs.flatMap(d => SchemaTools.listDataFiles(spark, d))
        Some(readerFor(fsAll).parquet(dirs: _*))
      }
    }
    val toLoadDF =
      if (force) candDF
      else loadedDF(plannedV)
        .map(l => candDF.join(l, idCols, "left_anti")).getOrElse(candDF)
    val toLoad = toLoadDF.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    if (toLoad.isEmpty) return (plannedV, 0L, 0L)
    val raw = spark.read.options(formatOptions).format(fmt)
      .load(toLoad.map(_._1): _*)
    val r = resolve(Some(plannedV))
    val tSchema: StructType =
      if (r.data.nonEmpty) readConformed(r.data, r.schemaOf).schema
      else read(Some(plannedV)).schema
    val out =
      if (tSchema.isEmpty) raw // founding load adopts the source shape
      else if (mergeSchema)
        SchemaTools.conformTo(raw, StructType(tSchema.fields ++
          raw.schema.fields.toSeq
            .filterNot(f => tSchema.fieldNames.contains(f.name))))
      else {
        require(raw.columns.toSet == tSchema.fieldNames.toSet,
          s"source columns ${raw.columns.sorted.mkString(",")} must " +
            s"match table columns " +
            s"${tSchema.fieldNames.sorted.mkString(",")} " +
            "(or COPY_OPTIONS ('mergeSchema'='true'))")
        SchemaTools.conformTo(raw, tSchema)
      }
    // the run manifest lands BEFORE the CAS; only a committed pointer
    // makes it authoritative, so a crash here leaves harmless debris
    val runDir = s"_copy/run-${java.util.UUID.randomUUID().toString.take(12)}"
    toLoad.toSeq.toDF(idCols: _*).repartition(1)
      .write.parquet(new Path(root, runDir).toString)
    val names = stage(out)
    val spans = spansOf(names, Some(out.schema))
    val rows = spans.values.map(_.nRows).sum
    def sweep(): Unit = {
      names.foreach(n => fs.delete(new Path(dataDir, n), false))
      fs.delete(new Path(root, runDir), true)
    }
    ensureMetaHint() // the props fold must see this commit
    new Txn("copyInto", plannedV, enforce = true).run { w =>
      // another props-carrying commit in the window may be a copy run
      // over the same files — re-derive; if our plan shrank, abandon
      // and re-plan
      val shrank = !force && w.commits.exists(_.props.isDefined) &&
        loadedDF(w.tip)
          .map(l => toLoadDF.join(l, idCols, "left_anti").count())
          .getOrElse(toLoad.length.toLong) != toLoad.length.toLong
      if (shrank) None
      else Some(Action("append", names, schema = Some(out.schema),
        stats = spans, props = Some(properties(Some(w.tip)) +
          (s"${CommitLog.CopyRunPrefix}${w.tip + 1}" -> runDir))))
    } match {
      case Some(v) => (v, toLoad.length.toLong, rows)
      case None =>
        sweep()
        copyInto(srcPath, format, pattern, force, formatOptions,
          mergeSchema)
    }
  }

  /** Fold the COPY INTO registry: merge every run manifest into ONE
    * (distinct identities) and swap all `graft.copy.run.*` properties
    * for a single pointer in one meta commit. A year of hourly loads
    * is ~8,760 props keys and manifests — the fold keeps the property
    * map and the probe's file listing O(1) in run count while the
    * identity ROWS stay a distributed parquet read. Retired manifests
    * become unreferenced and vacuum sweeps them after retention. Runs
    * race-safe: a copy landing mid-fold fails the CAS and the fold
    * re-reads (its runs join the merge). No-op below two runs. */
  def compactCopyRegistry(): Option[Long] = {
    var staged: Option[(String, Set[String])] = None
    def sweepStaged(): Unit = staged.foreach { case (d, _) =>
      fs.delete(new Path(root, d), true) }
    val v = new Txn("compactCopyRegistry").run { w =>
      val ps = properties(Some(w.tip))
      val runs = ps.filter(_._1.startsWith(CommitLog.CopyRunPrefix))
      if (runs.size > 1 && !staged.exists(_._2 == runs.values.toSet)) {
        sweepStaged()
        val dir =
          s"_copy/run-${java.util.UUID.randomUUID().toString.take(12)}"
        locally {
          val dirs = runs.values.toSeq.map(d => new Path(root, d).toString)
          readerFor(dirs.flatMap(d => SchemaTools.listDataFiles(spark, d)))
            .parquet(dirs: _*)
        }.distinct().repartition(1)
          .write.parquet(new Path(root, dir).toString)
        staged = Some((dir, runs.values.toSet))
      }
      if (runs.size <= 1) None
      else Some(Action("meta", props = Some((ps -- runs.keys) +
        (s"${CommitLog.CopyRunPrefix}${w.tip + 1}" -> staged.get._1))))
    }
    if (v.isEmpty) sweepStaged()
    v
  }

  /** SCREENED append — write-time expectations on the multi-writer
    * path (the q89/q123 gate, composed with the commit protocol): rows
    * proving every rule commit through the normal CAS retry loop,
    * violators append to `quarantinePath` carrying the failed rule
    * names — a multi-writer table is exactly where unvetted producers'
    * bad rows arrive, and they must quarantine for triage, not corrupt
    * the log or reject the batch. An all-violations batch burns NO
    * version (None). Returns (committed version, quarantined count). */
  def appendScreened(
      df: DataFrame,
      rules: Seq[Expectations.Rule],
      quarantinePath: String
  ): (Option[Long], Long) = {
    val (accepted, quarantined) = Expectations.screen(df, rules)
    val q = quarantined
      .withColumn("violated",
        org.apache.spark.sql.functions.concat_ws(",",
          org.apache.spark.sql.functions.col("violated")))
    val nQ = q.count()
    if (nQ > 0)
      q.write.mode("append").parquet(quarantinePath)
    val v = if (accepted.isEmpty) None else Some(append(accepted))
    (v, nQ)
  }

  /** Build the `_stats` file-skipping sidecar over the CURRENT live
    * data set (at `root/_stats`, same layout as the single-writer
    * flavor). [[append]] maintains it incrementally — spans for just
    * the new files, the FileStats.appendFiles discipline — so a
    * standing manifest survives continuous multi-writer ingest;
    * [[replace]] invalidates it (the live set it described is gone
    * wholesale). Correct under every interleaving because data files
    * are immutable: a per-file span can never go stale, and readers
    * keep unindexed files unconditionally. */
  def buildStats(bloomCols: Seq[String] = Nil,
      bloomBits: Int = FileStats.DefaultBloomBits): Unit = {
    val r = resolve(None)
    require(r.data.nonEmpty, "nothing committed to index")
    // through the schema-aware grouped read: a plain multi-file read
    // over a DRIFTED live set resolves against one sampled footer —
    // missing drifted columns, or throwing on a type-widened one.
    // Spans land on the conformed (promoted) values; files missing a
    // column get null spans and readers keep them conservatively.
    // `bloomCols` adds per-file bloom filters for equality-probe
    // skipping; [[append]]'s maintainStats keeps them current.
    FileStats.buildForDataFrame(spark, root,
      readConformed(r.data, r.schemaOf), bloomCols, bloomBits)
  }

  /** Best-effort incremental span maintenance after a won commit:
    * distrust -> append spans -> re-seal, so a crash mid-maintenance
    * leaves the manifest untrusted (full-scan fallback), never
    * trusted-but-wrong. No-op when no sidecar is standing. */
  private def maintainStats(names: Seq[String],
      schema: Option[StructType]): Unit =
    if (FileStats.trusted(spark, root)) {
      FileStats.distrust(spark, root)
      // declared-schema scan when the writer knows what it landed —
      // skips the footer-sampling job (basePath keeps partition
      // columns resolvable on the explicit file list)
      val scan = schema.filter(_ => names.nonEmpty).map(sch =>
        spark.read.schema(sch)
          .option("basePath", fs.makeQualified(dataDir).toString)
          .parquet(names.map(dataPath): _*))
      FileStats.appendFiles(spark, root, names.map(dataPath),
        batchScan = scan)
    }

  /** Replace the live set with `df` (overwrite/compaction), valid only
    * against `baseVersion` — the state this rewrite was planned on. If
    * any commit landed past the base, the replace has not seen those
    * rows: CONFLICT, throw for the caller to re-plan on fresh state
    * (retrying at a new version would silently drop the interleaved
    * appends). Old data files stay for time travel; vacuum reclaims. */
  def replace(df: DataFrame, baseVersion: Long): Long = {
    val names = stage(df)
    val spans = spansOf(names, Some(df.schema))
    new Txn("replace", base = Some(baseVersion), enforce = true)
      .run(_ => Some(Action("replace", names, schema = Some(df.schema),
        stats = spans))).get
  }

  /** OPTIMIZE — compaction as a TRANSACTION (Delta OPTIMIZE / Iceberg
    * RewriteFiles): pack the live data files into `targetFiles` outputs
    * and commit a REWRITE that swaps inputs for outputs in the resolved
    * state.
    *
    * The pack merges WHOLE files and never splits one: the inputs, in
    * log order, are cut into `min(targetFiles, inputs)` contiguous runs
    * of similar byte size ([[Compact.bins]]), and each run is scanned
    * and written by one task — one write job, no exchange — so each
    * packed file spans only its own run's keys and later verbs keep
    * pruning by span (`zorderBy` re-clusters instead). Each run reads
    * like the whole pack would (standing positional marks applied),
    * conformed to the whole input set's schema, so the pack also heals
    * drift. On a partitioned table a run writes one file per partition
    * value it holds.
    *
    * Row-preserving by construction: the packed outputs are read
    * straight from the inputs with NO tombstone subtraction (standing
    * MOR tombstones are key-based, so they keep subtracting from the
    * packed files exactly as they did from the originals), and old
    * files stay on disk for time travel until retention reclaims them.
    *
    * Concurrency is the Iceberg rewrite validation, not the replace
    * CAS: an interleaved APPEND does not conflict (it touches none of
    * the compacted files — the CAS just retries at the next version),
    * but if the compacted inputs are no longer all live at commit time
    * (an interleaved replace reset the state, or a competing rewrite
    * took some of them), the rewrite has lost the race and CONFLICTS —
    * committing would resurrect files another commit removed.
    *
    * The `_stats` manifest is invalidated (its rows describe files the
    * live set no longer holds); [[buildStats]] re-indexes — the packed
    * layout is exactly when re-spanning pays. Returns the rewrite's
    * version, or None when the live set already fits `targetFiles`
    * (never burn a commit on a no-op). */
  def optimize(targetFiles: Int = 1,
      zorderBy: Seq[String] = Nil,
      where: Option[String] = None,
      onlyFiles: Option[Set[String]] = None,
      markClustered: Boolean = false,
      force: Boolean = false): Option[Long] = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val plannedV = latestVersion()
    val r = resolve(Some(plannedV))
    // OPTIMIZE WHERE (selective compaction): only files whose
    // log-carried spans MIGHT hold predicate-matching rows are
    // rewritten — whole files, never filtered rows, so the rewrite
    // stays row-preserving; files outside the band are untouched
    // (Delta's OPTIMIZE WHERE, with spans standing in for partition
    // predicates). Unprunable predicates degrade to a full pack.
    // `onlyFiles` restricts further (the liquid-clustering caller's
    // unclustered set).
    val inputs0 = where match {
      case None => r.data
      case Some(p) => prunedLive(p, r.data, r.spanOf).getOrElse(r.data)
    }
    val inputs = onlyFiles match {
      case None => inputs0
      case Some(fs0) => inputs0.filter(fs0)
    }
    if (inputs.isEmpty) return None
    // `force` (the REORG PURGE caller): the rewrite IS the point —
    // a single marked file must still rewrite to drop its dead rows
    if (inputs.size <= targetFiles && zorderBy.isEmpty && !force)
      return None
    // schema-aware pack: drifted inputs conform to the unified schema,
    // so the rewrite ALSO heals heterogeneity (the packed files all
    // carry the wide schema — exactly what a layout rewrite is for).
    // Standing POSITIONAL marks apply here (OPTIMIZE is the DV fold):
    // re-homed rows must not resurrect positionally-deleted ones;
    // keyed tombstones deliberately do NOT apply (they keep
    // subtracting from the packed files by key).
    val dvStanding = r.tombstones.filter(isDvName)
    val raw = readApplied(inputs, r.schemaOf, dvStanding)
    // positional tombstones whose EVERY mark lands in this rewrite's
    // inputs are fully applied by it — retire them in the same commit
    // (listed in `removed`), or dead marks subtract on every read
    // forever. A mark file also touching out-of-band files stays.
    // "fully applied" = no mark on a LIVE file outside this pack
    // (marks on files already dead can never subtract again — they
    // don't block retirement)
    val liveOutside = r.data.filterNot(inputs.toSet)
    val deadDv: Seq[String] =
      if (dvStanding.isEmpty) Nil
      else if (liveOutside.isEmpty) dvStanding
      else {
        import org.apache.spark.sql.functions.{col, input_file_name, max}
        readerFor(dvStanding.map(dataPath))
          .parquet(dvStanding.map(dataPath): _*)
          .groupBy(input_file_name().as("__src"))
          .agg(max(col("__dv_file").isin(liveOutside: _*))
            .as("anyLiveOutside"))
          .filter(!col("anyLiveOutside"))
          .select("__src").collect()
          .map(x => relName(x.getString(0))).toSeq
      }
    // zorderBy: re-cluster along the Morton curve instead of packing
    // whole files — the OPTIMIZE ZORDER BY composition; same rewrite
    // commit, but the packed layout now serves multi-axis span pruning
    // (buildStats afterwards re-spans the clustered files)
    val packed =
      if (zorderBy.nonEmpty) ZOrder.cluster(raw, zorderBy, targetFiles)
      else Compact.packFrame(spark,
        Compact.bins(inputs.zip(SchemaTools.sizesOf(spark,
          inputs.map(dataPath))), targetFiles)
          .map(readApplied(_, r.schemaOf, dvStanding)),
        raw.schema)
    val names = stage(packed)
    val spans = spansOf(names, Some(raw.schema))
    new Txn("optimize", plannedV, rewrites = inputs).run(_ =>
      Some(Action("rewrite", names, removed = inputs ++ deadDv,
        schema = Some(raw.schema), stats = spans,
        clusteredKeys =
          if (markClustered) Some(zorderBy.mkString(",")) else None)))
  }

  /** The table's declared clustering keys
    * ([[CommitLog.ClusterByKey]]), empty when none. */
  def clusterKeys(asOf: Option[Long] = None): Seq[String] =
    properties(asOf).get(CommitLog.ClusterByKey)
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)

  /** Liquid-clustering OPTIMIZE (Delta's CLUSTER BY surface): rewrite
    * ONLY the live files that are not yet clustered on the declared
    * keys, z-ordering them, and mark the rewrite commit `clustered` —
    * so the NEXT run sees its outputs as already clustered and an
    * incremental re-cluster touches only data that landed since.
    * Clustered-ness derives from the commit LOG (a file is clustered
    * iff the commit that ADDED it carries the marker — O(commits)
    * metadata, zero data reads); files whose adding commit was expired
    * by retention count as unclustered once, conservatively. Steady
    * state on a 100 TB table: each run's cost is the new data since
    * the last run, never the lake. Returns None when everything
    * already clusters. */
  def optimizeCluster(targetFiles: Int = 1): Option[Long] = {
    val keys = clusterKeys()
    require(keys.nonEmpty,
      s"no clustering keys declared — set '${CommitLog.ClusterByKey}' " +
        "(CREATE TABLE ... CLUSTER BY)")
    val plannedV = latestVersion()
    val want = keys.mkString(",")
    // key-AWARE clustered-ness: a file counts clustered only if its
    // adding commit ordered by the CURRENT keys — after ALTER ...
    // CLUSTER BY the old layout's files re-cluster. Legacy markers
    // without recorded keys count UNclustered (one extra re-cluster,
    // never a stale layout served forever — the same conservative
    // rule as retention-expired adding commits).
    val clustered: Set[String] = existingVersions()
      .filter(_ <= plannedV).map(commit)
      .filter(c => c.clustered && c.clusterKeys.contains(want))
      .flatMap(_.files).toSet
    val un = resolve(Some(plannedV)).data.filterNot(clustered).toSet
    if (un.isEmpty) return None
    optimize(targetFiles, zorderBy = keys, onlyFiles = Some(un),
      markClustered = true)
  }

  /** REORG TABLE ... APPLY (PURGE) — Delta's deletion-vector purge
    * verb: physically rewrite ONLY the live files carrying standing
    * positional marks (the rewrite reads through the marks, so the
    * dead rows drop), and retire every fully-applied `dv-*` tombstone
    * in the SAME commit ([[optimize]]'s dead-dv fold). Unmarked files
    * are untouched — at 100 TB the cost is the marked fraction, never
    * the lake. `targetFiles` <= 0 keeps the marked files' own count
    * (pure purge, layout preserved); positive bin-packs like
    * OPTIMIZE. Reads are unchanged before/after by construction
    * (marks subtracted at read time before, physically absent after).
    * On a CLUSTER BY table the purged output re-clusters on the
    * declared keys and carries the clustered marker, so the purge
    * neither degrades the layout nor triggers a second rewrite from
    * the next OPTIMIZE. Returns None when no marks stand; dv files
    * whose every mark points at already-dead files retire via a
    * metadata-only commit (no data rewrite — they can never subtract
    * again). */
  def reorgPurge(targetFiles: Int = 0): Option[Long] = {
    val r = resolve(None)
    val dv = r.tombstones.filter(isDvName)
    if (dv.isEmpty) return None
    val liveSet = r.data.toSet
    val marked = SchemaTools.distinctStrings(
      readerFor(dv.map(dataPath)).parquet(dv.map(dataPath): _*),
      "__dv_file").filter(liveSet)
    if (marked.isEmpty) {
      // every mark targets a dead file — nothing to rewrite, but the
      // dv files still join into every read: retire them outright
      val dvSet = dv.toSet
      return new Txn("reorgPurge").run { w =>
        // a concurrent commit may have retired (or re-homed) some of
        // these tombstones already — a double-remove manifest would
        // corrupt history/vacuum accounting
        if (!dvSet.subsetOf(resolve(Some(w.tip)).tombstones.toSet))
          throw conflict("reorgPurge planned on tombstones a concurrent " +
            "commit retired")
        Some(Action("rewrite", removed = dv))
      }
    }
    // clustering-aware: on a CLUSTER BY table the purged rows re-sort
    // on the declared keys and the outputs mark clustered (optimize's
    // transaction re-validates input liveness on every attempt)
    val keys = clusterKeys()
    optimize(if (targetFiles > 0) targetFiles else marked.size,
      zorderBy = keys, onlyFiles = Some(marked.toSet), force = true,
      markClustered = keys.nonEmpty)
  }

  /** Keyed copy-on-write MERGE as ONE atomic commit — Delta MERGE on
    * the multi-writer flavor. Matched keys update, unmatched keys
    * insert; only files that HOLD matched keys rewrite (span-pruned
    * candidates, then a key semi-join picks the touched set), and the
    * swap is a single `upsert` commit (removed = touched inputs,
    * files = survivors ∪ batch) visible atomically like every commit.
    * Time travel before it serves the pre-merge rows; incremental
    * consumers must re-baseline across it ([[readSince]] and
    * [[changesSince]] refuse — merged outputs mix carried-over
    * survivors with changed rows, not separable from metadata —
    * UNLESS the change data feed is on ([[CommitLog.CdfEnabledKey]]),
    * in which case the exact change rows persist with the commit and
    * the feed decomposes it).
    *
    * The batch may be ANY size: under the session broadcast threshold
    * it broadcasts into the touch/rewrite joins; above it (or when
    * the optimizer can't size it) it stages once to a lake temp file
    * and the joins plan shuffled on the real byte count
    * ([[sizedSource]]) — a multi-GB batch never forces a driver
    * broadcast.
    *
    * Concurrency is Delta's ConcurrentAppend/ConcurrentDelete logic,
    * validated on every commit attempt:
    *  - planned inputs no longer live (a replace/rewrite/competing
    *    upsert took them) — CONFLICT, re-plan;
    *  - a commit landed after planning whose files' LOG-CARRIED spans
    *    cannot prove disjointness from the batch's key range — its
    *    rows may match the merge keys this merge never saw: CONFLICT.
    *    Span-provably-disjoint appends commute and do not conflict
    *    (the partition-disjointness rule, served by per-file spans).
    *  - MOR `delete` commits commute: tombstone keys subtract at READ
    *    time from whatever files are live, including this merge's
    *    outputs. The flip side is enforced, not silent: a batch
    *    writing a key a STANDING tombstone holds REFUSES — the
    *    read-time subtract would erase the merged row the moment it
    *    landed; void the debt (replace with the applied read) first.
    *
    * Under ACTIVE COLUMN MAPPING the batch and keys arrive under
    * logical names and the merge runs on the frozen physical names
    * (Delta MERGE on a column-mapped table): keys translate through
    * the marker, renamed batch columns land under their physical
    * names, dropped physical columns land as nulls — so the merged
    * files keep the uniform physical schema and no history rewrites.
    *
    * A merge that matches NOTHING commits as a plain `append` (no
    * inputs removed — increment consumers keep working), mirroring
    * Delta's insert-only-merge append optimization. Returns
    * (committed version, touched file count). `beforeCommit` is a
    * test seam firing between staging and the first CAS attempt —
    * how the conflict paths are exercised deterministically. */
  def upsert(batch: DataFrame, keys: Seq[String],
      beforeCommit: () => Unit = () => ()): (Long, Int) =
    doUpsert(batch, keys, beforeCommit, None).get

  /** IDEMPOTENT MERGE — [[upsert]] under the [[appendOnce]]
    * txnAppId/txnVersion contract: the merge commit records
    * `(appId, batchId)` and a batch at or below the app's high-water
    * mark is SKIPPED (None). This is the Delta streaming-CDC
    * pattern — `foreachBatch` + MERGE — made exactly-once at the
    * COMMIT level: a keyed merge is already content-idempotent under
    * replay, but the mark also keeps a replayed delivery from
    * burning a version and rewriting files for nothing. */
  def upsertOnce(batch: DataFrame, keys: Seq[String],
      appId: String, batchId: Long): Option[(Long, Int)] = {
    if (lastTxn(appId).exists(_ >= batchId)) return None
    doUpsert(batch, keys, () => (), Some((appId, batchId)))
  }

  private def doUpsert(batch: DataFrame, keys: Seq[String],
      beforeCommit: () => Unit,
      txn: Option[(String, Long)]): Option[(Long, Int)] = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "upsert needs at least one key column")
    // Delta's historical restriction, enforced at the API too (the
    // SQL dispatch refuses earlier): merged-in explicit identity
    // values would bypass the high-water mark
    require(autoColumns()._1.isEmpty,
      "upsert into a table with identity columns is not supported — " +
        "route the change through INSERT/UPDATE/DELETE")
    // Active column mapping: the batch and keys arrive under LOGICAL
    // names, the merge runs on the files' frozen PHYSICAL names
    // (Delta MERGE on a column-mapped table). Keys translate through
    // the marker; the batch unapplies the renames and lands dropped
    // physical columns as nulls via the ordinary drift conform — so
    // merged files keep the uniform physical schema and zero history
    // is rewritten.
    val marker = SchemaTools.readSchemaMarkerInfo(spark, root)
    val renames = marker.map(_.renames).getOrElse(Map.empty[String, String])
    val droppedPhys = marker.map(_.dropped).getOrElse(Set.empty[String])
    val physKeys = keys.map(k =>
      renames.find(_._2 == k).map(_._1).getOrElse(k))
    val plannedV = latestVersion()
    val r = resolve(Some(plannedV))
    if (r.data.isEmpty)
      return txn match {
        case None => Some((append(batch), 0))
        case Some((a, b)) => appendOnce(batch, a, b).map((_, 0))
      }
    val current = readConformed(r.data, r.schemaOf)
    val logicalCols = current.columns
      .filterNot(droppedPhys.contains)
      .map(c => renames.getOrElse(c, c))
    require(batch.columns.sorted.sameElements(logicalCols.sorted),
      s"upsert batch columns ${batch.columns.sorted.mkString(",")} " +
        s"must match dataset columns ${logicalCols.sorted.mkString(",")}")
    // an arbitrary upsert batch gets the same size discipline as the
    // merge source: stage-and-size above the broadcast threshold, so
    // a multi-GB batch plans shuffled joins instead of forcing a
    // driver broadcast (and the several passes below scan a
    // materialized file, not an arbitrary recomputed plan)
    val (batchAligned, batchBytes, batchTmp) = sizedSource(
      SchemaTools.conformTo(
        SchemaTools.unapplyRenames(batch, renames), current.schema))
    def bcast(df: DataFrame): DataFrame =
      SchemaTools.broadcastIfUnder(spark, df, batchBytes)
    try {
    // standing MOR tombstones subtract BY KEY from whatever files are
    // live (the documented standing-predicate semantic), so a merge
    // writing a tombstoned key would land rows the very next read
    // silently erases. Refuse loudly instead — void the debt first
    // (a replace with the MOR-applied read resets the tombstone set).
    // Disjoint-key merges commute with tombstones by construction:
    // survivors re-home tombstoned rows, but the key subtract still
    // holds wherever they live.
    // (positional marks don't key-clash: the merge applies them to the
    // files it rewrites via readApplied, and marks on untouched files
    // subtract positions that still exist)
    val standingKeyed = r.tombstones.filterNot(isDvName)
    val standingDv = r.tombstones.filter(isDvName)
    if (standingKeyed.nonEmpty) {
      val tsPaths = standingKeyed.map(dataPath)
      val ts = readerFor(tsPaths).parquet(tsPaths: _*).distinct()
      val clash = !batchAligned.join(
        SchemaTools.broadcastIfUnder(spark, ts,
          SchemaTools.bytesOf(spark, tsPaths)),
        ts.columns.map(k => batchAligned(k) <=> ts(k)).reduce(_ && _),
        "left_semi").isEmpty
      require(!clash,
        "merge writes keys held by standing MOR tombstones — the " +
          "read-time key subtract would silently erase the merged " +
          "rows; void the delete first (replace with the applied read)")
    }
    val batchKeys = batchAligned.select(physKeys.map(col): _*).distinct()
    // the batch's typed key envelope on EVERY key column (numeric /
    // timestamp / date as seconds-doubles, strings as prefix bounds) —
    // drives both candidate pruning and the concurrent-commit
    // disjointness proof, so string-keyed and multi-column-keyed
    // merges prune and commute exactly like numeric ones
    val keyBounds: Map[String, FileStats.ColBound] =
      FileStats.frameBounds(batchAligned, physKeys)
    val candidates =
      prunedLive(keyBounds, Map.empty, r.data, r.spanOf).getOrElse(r.data)
    val touched: Seq[String] =
      if (candidates.isEmpty) Nil
      else {
        // dv-applied: a file whose only key hits are positionally-
        // deleted rows must not rewrite
        val scan = appliedWithFile(candidates, r.schemaOf, standingDv)
          .select(physKeys.map(col) :+ col("__file"): _*)
        val cond =
          physKeys.map(k => scan(k) <=> batchKeys(k)).reduce(_ && _)
        SchemaTools.distinctStrings(
          scan.join(bcast(batchKeys), cond, "left_semi"), "__file")
          .map(relFileOf(standingDv))
      }
    // CHANGE DATA FEED (opt-in, [[CommitLog.CdfEnabledKey]]): a
    // mutating upsert persists its exact change rows in the same
    // commit so the feed decomposes instead of refusing
    val cdfOn = touched.nonEmpty && cdfEnabled(Some(plannedV))
    var cdfChanges: Option[DataFrame] = None
    val out =
      if (touched.isEmpty) batchAligned
      else {
        // positional marks APPLY here: the rewrite re-homes these rows,
        // so positionally-deleted ones must not travel
        val touchedRows = SchemaTools.conformTo(
          readApplied(touched, r.schemaOf, standingDv),
          batchAligned.schema)
        val cond = physKeys
          .map(k => touchedRows(k) <=> batchKeys(k)).reduce(_ && _)
        // with CDF on the batch stages TWICE (merged data + change
        // rows) — pin one materialization when sizedSource left it
        // unstaged, so the persisted feed always equals what landed
        val bA = if (cdfOn && batchTmp.isEmpty)
          batchAligned.localCheckpoint(true) else batchAligned
        if (cdfOn) {
          import org.apache.spark.sql.functions.lit
          // replaced rows are the pre-images; batch rows split into
          // post-images (a pre-image exists for the key) and inserts
          val pre = touchedRows.join(bcast(batchKeys), cond, "left_semi")
          val preKeys = pre.select(physKeys.map(col): _*).distinct()
          def keyCond = physKeys
            .map(k => bA(k) <=> preKeys(k)).reduce(_ && _)
          cdfChanges = Some(
            pre.withColumn("_op", lit("update_preimage"))
              .unionByName(bA
                .join(preKeys, keyCond, "left_semi")
                .withColumn("_op", lit("update_postimage")))
              .unionByName(bA
                .join(preKeys, keyCond, "left_anti")
                .withColumn("_op", lit("insert"))))
        }
        touchedRows.join(bcast(batchKeys), cond, "left_anti")
          .unionByName(bA)
      }
    val changeNames: Seq[String] =
      cdfChanges.map(stageChangeData).getOrElse(Nil)
    val names = stage(out)
    val spans = spansOf(names, Some(out.schema))
    val kind = if (touched.isEmpty) "append" else "upsert"
    // a twin writer's landed (appId, batchId) skips instead of
    // double-merging
    new Txn("upsert", plannedV, rewrites = touched, enforce = true,
        once = txn, beforeCommit = beforeCommit).run { w =>
      // Conflict rules over the window — run for INSERT-ONLY merges too
      // (Delta validates them the same way: a concurrent commit landing
      // matched keys between planning and CAS would duplicate them):
      // restore/clone ([[reHomed]]), ConcurrentAppend
      // ([[concurrentAppend]]), and a MOR `delete` whose tombstones
      // hold a batch key — committing would land rows the next read
      // silently erases (the standing-tombstone guard, raced);
      // disjoint deletes commute.
      reHomed(w.commits).orElse(concurrentAppend(w.commits, keyBounds))
        .foreach(why => throw conflict(why))
      val newKeyed = w.commits.filter(_.kind == "delete")
        .flatMap(_.files).filterNot(isDvName)
      if (newKeyed.nonEmpty) {
        val tsPaths = newKeyed.map(dataPath)
        val ts = readerFor(tsPaths).parquet(tsPaths: _*).distinct()
        val clash = !batchAligned.join(
          SchemaTools.broadcastIfUnder(spark, ts,
            SchemaTools.bytesOf(spark, tsPaths)),
          ts.columns.map(k => batchAligned(k) <=> ts(k)).reduce(_ && _),
          "left_semi").isEmpty
        if (clash)
          throw conflict("a concurrent delete holds keys this merge " +
            "writes (ConcurrentDelete)")
      }
      Some(Action(kind, names, removed = touched, txn = txn,
        schema = Some(out.schema), stats = spans,
        changeFiles = changeNames))
    }.map((_, touched.size))
    } finally batchTmp.foreach(p => fs.delete(p, true))
  }

  /** Generalized MERGE — the full Delta grammar as ONE atomic commit:
    * conditional WHEN MATCHED UPDATE/DELETE, conditional WHEN NOT
    * MATCHED INSERT, WHEN NOT MATCHED BY SOURCE UPDATE/DELETE,
    * first-true clause wins ([[CommitLog.MergeClause]]). [[upsert]]
    * stays the fast path for the unconditional update-all/insert-all
    * shape; this executor covers everything else: CDC apply with an
    * op column (D/U/I routed per clause), conditional upserts with
    * deletes, and full-sync mirrors that retire target rows the
    * source no longer carries.
    *
    * 100 TB shape: matched and insert work prunes to the source's
    * typed key envelope exactly like [[upsert]] — candidates from
    * spans, the source broadcast into the touch scan, and only files
    * holding an AFFECTED row (a matched row some clause actually
    * fires on, conditions evaluated) rewrite. NOT MATCHED BY SOURCE
    * is inherently a full-table examination (Delta's is too): every
    * live row must prove a source match or face the clauses, so the
    * scan covers all live files (clause-condition spans prune when
    * they can) and only files where a clause fires rewrite. The
    * source may be ANY size: under the session broadcast threshold it
    * broadcasts into every probe; above it (or when the optimizer
    * can't size it) it is staged once to a lake temp file and every
    * source-side join plans as an ordinary shuffled join on its real
    * byte count ([[sizedSource]]) — a multi-GB CDC/backfill source
    * never forces a driver broadcast.
    *
    * Delta-parity semantics: a target row matched by more than one
    * source row REFUSES when matched clauses exist
    * (nondeterministic — dedup the source); updates cast back to the
    * standing column type; NOT NULL / CHECK invariants gate the
    * rewritten output like every writer. With `evolve` (Delta's
    * `WITH SCHEMA EVOLUTION`) source columns ABSENT from the target
    * append to the schema (source type, nullable) — untouched rows
    * read NULL for them through the log's per-commit schema registry,
    * zero rewrite of unaffected files; a source column whose NAME the
    * target already carries never changes the standing type (values
    * cast back — widen with ALTER COLUMN TYPE first). Without
    * `evolve` an assignment targeting an unknown column refuses
    * (Delta's default; ADD COLUMNS first).
    * Matching runs null-safe (`<=>`, [[upsert]]'s discipline).
    * Concurrency: conflicts exactly like [[upsert]] (key-envelope
    * disjointness proves appends commute), EXCEPT under NOT MATCHED
    * BY SOURCE where ANY concurrent data commit conflicts — this
    * merge examined every target row; rows landing after planning
    * were not examined. A concurrent keyed delete in the window
    * conflicts conservatively (written keys are not enumerable
    * pre-commit), as does a merge while keyed MOR tombstones stand
    * (void the delete first). Returns (version, touched files); a
    * merge that changes nothing burns no commit. */
  def merge(
      source: DataFrame,
      keys: Seq[String],
      matched: Seq[CommitLog.MergeClause],
      notMatched: Seq[CommitLog.MergeClause],
      notMatchedBySource: Seq[CommitLog.MergeClause],
      evolve: Boolean = false): (Long, Int) = {
    import CommitLog.{MergeClause, MergeDelete, MergeInsert, MergeUpdate}
    require(keys.nonEmpty, "merge needs at least one key column")
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "merge needs at least one WHEN clause")
    // IDENTITY columns: allocation rides the WHEN NOT MATCHED insert
    // branch off the same high-water CAS as INSERT, and SET /
    // explicit-ALWAYS insert values refuse. GENERATED columns:
    // recomputed from their expressions on update-fired and inserted
    // rows; explicit SET/INSERT assignments refuse (Delta's rule —
    // [[mergePhysical]] guards both).
    matched.foreach(c => require(!c.op.isInstanceOf[MergeInsert],
      "WHEN MATCHED supports UPDATE/DELETE, not INSERT"))
    notMatched.foreach(c => require(c.op.isInstanceOf[MergeInsert],
      "WHEN NOT MATCHED supports INSERT only"))
    notMatchedBySource.foreach(c =>
      require(!c.op.isInstanceOf[MergeInsert],
        "WHEN NOT MATCHED BY SOURCE supports UPDATE/DELETE, not INSERT"))
    // Active column mapping (Delta MERGE on a column-mapped table):
    // callers speak LOGICAL names, the executor runs on the files'
    // frozen PHYSICAL names ([[doUpsert]]'s discipline). Translate
    // ONCE up front — keys, source columns, clause targets, and every
    // condition/value expression — and the executor below is
    // mapping-oblivious. Dropped physical columns are unaddressable
    // (logical namespace) and land NULL on inserted rows via the
    // ordinary fallback; rewritten files keep the uniform physical
    // schema, zero history rewrites.
    val mMarker = SchemaTools.readSchemaMarkerInfo(spark, root)
    val toPhys: Map[String, String] = mMarker
      .map(_.renames.map(_.swap)).getOrElse(Map.empty)
    val mDropped: Set[String] =
      mMarker.map(_.dropped).getOrElse(Set.empty)
    def physName(c: String): String = physicalName(c)
    def physSql(sql: String): String = toPhysicalSql(sql)
    def physClause(c: MergeClause): MergeClause = MergeClause(
      c.condition.map(physSql),
      c.op match {
        case MergeUpdate(sets) => MergeUpdate(
          sets.map { case (t, v) => physName(t) -> physSql(v) })
        case MergeInsert(vs) => MergeInsert(
          vs.map { case (t, v) => physName(t) -> physSql(v) })
        case MergeDelete => MergeDelete
      })
    val pSource = toPhys.foldLeft(source) { case (df, (lg, ph)) =>
      if (df.columns.contains(lg)) df.withColumnRenamed(lg, ph) else df }
    require(!pSource.columns.exists(mDropped.contains),
      "source column names collide with DROPPED physical columns — " +
        "rename the source side")
    mergePhysical(pSource, keys.map(physName),
      matched.map(physClause), notMatched.map(physClause),
      notMatchedBySource.map(physClause), evolve)
  }

  /** LOGICAL column name -> the files' frozen PHYSICAL name under
    * active column mapping (identity without one). */
  private def physicalName(c: String): String =
    SchemaTools.readSchemaMarkerInfo(spark, root)
      .map(_.renames.map(_.swap)).getOrElse(Map.empty)
      .getOrElse(c, c)

  /** Translate a LOGICAL-name expression/predicate to PHYSICAL names
    * under active column mapping (identity without one): bare
    * single-part references remap, and `__s_<logical>` source refs
    * (the SQL MERGE dispatch's frame) remap inside the prefix. The
    * shared front door that lets every row-level writer — merge,
    * deleteWhere, deleteWhereMor, updateWhere — run mapping-oblivious
    * on the physical frames. */
  private def toPhysicalSql(sql: String): String = {
    val toPhys: Map[String, String] =
      SchemaTools.readSchemaMarkerInfo(spark, root)
        .map(_.renames.map(_.swap)).getOrElse(Map.empty)
    if (toPhys.isEmpty) return sql
    spark.sessionState.sqlParser.parseExpression(sql).transform {
      case a: org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute
          if a.nameParts.size == 1 &&
            toPhys.contains(a.nameParts.head) =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          Seq(toPhys(a.nameParts.head)))
      case a: org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute
          if a.nameParts.size == 1 &&
            a.nameParts.head.startsWith("__s_") &&
            toPhys.contains(a.nameParts.head.stripPrefix("__s_")) =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          Seq("__s_" + toPhys(a.nameParts.head.stripPrefix("__s_"))))
    }.sql
  }

  /** [[merge]]'s executor, entirely in PHYSICAL column space.
    *
    * Source-size discipline: the source is an ARBITRARY frame (a CDC
    * feed or backfill can be multi-GB at scale), so it is routed
    * through [[sizedSource]] and every source-side join below uses
    * `broadcastIfUnder` with the real byte count — an oversized source
    * plans as a shuffled join instead of forcing a driver broadcast. */
  private def mergePhysical(
      source0: DataFrame,
      keys: Seq[String],
      matched: Seq[CommitLog.MergeClause],
      notMatched: Seq[CommitLog.MergeClause],
      notMatchedBySource: Seq[CommitLog.MergeClause],
      evolve: Boolean): (Long, Int) = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
    import CommitLog.{MergeClause, MergeDelete, MergeInsert, MergeUpdate}
    val (source, srcBytes, srcTmp) = sizedSource(source0)
    def bcast(df: DataFrame): DataFrame =
      SchemaTools.broadcastIfUnder(spark, df, srcBytes)
    try {
    val plannedV = latestVersion()
    val r = resolve(Some(plannedV))
    val standingDv = r.tombstones.filter(isDvName)
    require(r.tombstones.forall(isDvName),
      "generalized merge while keyed MOR tombstones stand is not " +
        "supported — the read-time key subtract could silently erase " +
        "merged rows; void the delete first (replace with the applied " +
        "read), or use the unconditional upsert")
    val tSchema: StructType =
      if (r.data.nonEmpty) readConformed(r.data, r.schemaOf).schema
      else read(Some(plannedV)).schema
    require(tSchema.nonEmpty,
      "merge into an empty schemaless table — append/INSERT first to " +
        "establish the schema")
    val tCols = tSchema.fieldNames.toSeq
    val sCols = source.columns.toSeq
    require(keys.forall(tCols.contains) && keys.forall(sCols.contains),
      s"merge keys ${keys.mkString(",")} must exist on both sides")
    // schema evolution: source columns the target lacks append to the
    // schema (source type, nullable) — the output schema rides the
    // commit, and the log's per-commit schema registry conforms every
    // untouched file at read time (NULL for the new columns)
    val eSchema: StructType =
      if (!evolve) tSchema
      else StructType(tSchema.fields ++ source.schema.fields.toSeq
        .filterNot(f => tCols.contains(f.name))
        .map(f => org.apache.spark.sql.types.StructField(
          f.name, f.dataType, nullable = true)))
    val eCols = eSchema.fieldNames.toSeq
    require(!eCols.exists(_.startsWith("__s_")),
      "target columns may not carry the reserved __s_ prefix")
    // assignment targets must be standing (or evolution-added)
    // columns — Delta's default refuses unknowns (ADD COLUMNS first)
    (matched ++ notMatchedBySource).foreach(_.op match {
      case MergeUpdate(sets) => sets.foreach { case (c, _) =>
        require(eCols.contains(c), s"SET targets unknown column $c" +
          (if (evolve) "" else " (no WITH SCHEMA EVOLUTION)")) }
      case _ => ()
    })
    notMatched.foreach(_.op match {
      case MergeInsert(values) => values.foreach { case (c, _) =>
        require(eCols.contains(c), s"INSERT targets unknown column $c" +
          (if (evolve) "" else " (no WITH SCHEMA EVOLUTION)")) }
      case _ => ()
    })
    // GENERATED columns under MERGE (Delta's rule): explicit SET /
    // INSERT assignments refuse; update-fired rows RECOMPUTE the
    // expression over their post-update values (a second projection —
    // the generation expression must see NEW inputs, not the pre-SET
    // row), carried rows keep their standing bytes, and inserted rows
    // compute it after clause values (and identity allocation) land.
    // Names and expressions translate to PHYSICAL space under active
    // column mapping like every clause.
    val genCols: Map[String, String] =
      autoColumns(Some(plannedV))._2.map { case (c, g) =>
        physicalName(c) -> toPhysicalSql(g) }
    (matched ++ notMatchedBySource).foreach(_.op match {
      case MergeUpdate(sets) => sets.foreach { case (c, _) =>
        require(!genCols.contains(c),
          s"cannot UPDATE generated column $c — it recomputes from " +
            "its expression") }
      case _ => ()
    })
    notMatched.foreach(_.op match {
      case MergeInsert(vs) => vs.foreach { case (c, _) =>
        require(!genCols.contains(c),
          s"cannot INSERT an explicit value for generated column $c " +
            "— it computes from its expression") }
      case _ => ()
    })
    // IDENTITY under MERGE (Delta's current rule): SET may never
    // target an identity column; INSERT may assign one explicitly only
    // under GENERATED BY DEFAULT — and then EVERY insert clause must
    // assign it (mixed explicit/allocated rows in one statement would
    // interleave with the mark nondeterministically); unassigned
    // identity columns ALLOCATE off the table's high-water mark, the
    // mark advance riding the same CAS as the merge commit.
    val idCols: Map[String, (Long, Long, Boolean)] =
      autoColumns(Some(plannedV))._1
    (matched ++ notMatchedBySource).foreach(_.op match {
      case MergeUpdate(sets) => sets.foreach { case (c, _) =>
        require(!idCols.contains(c),
          s"cannot UPDATE identity column $c") }
      case _ => ()
    })
    val insertAssigned: Set[String] = notMatched.flatMap(_.op match {
      case MergeInsert(vs) => vs.map(_._1)
      case _ => Nil
    }).toSet
    val idExplicit = idCols.keys.filter(insertAssigned.contains)
      .toSeq.sorted
    idExplicit.foreach { c =>
      require(idCols(c)._3,
        s"column $c is GENERATED ALWAYS AS IDENTITY — explicit INSERT " +
          "values refuse (declare GENERATED BY DEFAULT to allow)")
      require(notMatched.forall(_.op match {
        case MergeInsert(vs) => vs.exists(_._1 == c)
        case _ => true
      }), s"identity column $c must be assigned by every insert " +
        "clause or by none")
    }
    val idToAlloc = idCols.keys.filterNot(insertAssigned.contains)
      .toSeq.sorted
    val src = source.select(sCols.map(c => col(c).as(s"__s_$c")): _*)
    val srcKeys = source.select(keys.map(col): _*)
    val batchKeys = srcKeys.distinct()
    val keyBounds: Map[String, FileStats.ColBound] =
      FileStats.frameBounds(source, keys)
    val keyCandidates: Seq[String] =
      if (r.data.isEmpty) Nil
      else prunedLive(keyBounds, Map.empty, r.data, r.spanOf).getOrElse(r.data)
    val emptyT = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), eSchema)
    // a target row matched by >1 source rows is nondeterministic when
    // any matched clause could fire — Delta refuses; so do we (the
    // check is one agg over the small source + one semi-join against
    // the pruned candidate keys)
    if (matched.nonEmpty && keyCandidates.nonEmpty) {
      val dupKeys = srcKeys.groupBy(keys.map(col): _*)
        .count().filter(col("count") > 1).drop("count")
      if (!dupKeys.isEmpty) {
        // dv-APPLIED key scan: a positionally-deleted row is not a
        // target row — it must not trip the nondeterminism refusal
        val scanK = readApplied(keyCandidates, r.schemaOf, standingDv)
          .select(keys.map(col): _*)
        val clash = !scanK.join(bcast(dupKeys),
          keys.map(k => scanK(k) <=> dupKeys(k)).reduce(_ && _),
          "left_semi").isEmpty
        require(!clash,
          "multiple source rows match the same target row — " +
            "nondeterministic merge; dedup the source on the keys")
      }
    }
    // files holding an AFFECTED matched row: key-match AND some
    // matched clause's condition true (no condition = always true)
    val matchedOr: org.apache.spark.sql.Column = matched
      .map(_.condition.map(expr).getOrElse(lit(true)))
      .reduceOption(_ || _).getOrElse(lit(false))
    // dv-applied scan with per-row file identity, conformed to the
    // EVOLVED schema so a clause condition naming an evolution-added
    // target column reads NULL, not an unresolved-column error
    def evolvedScanWithFile(names: Seq[String]): DataFrame = {
      val s0 = appliedWithFile(names, r.schemaOf, standingDv)
      val have = s0.schema.fieldNames.toSet
      s0.select((eSchema.fields.toSeq.map { f =>
        if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } :+ col("__file")): _*)
    }
    val toRel = relFileOf(standingDv) _
    val filesWithHits: Seq[String] =
      if (matched.isEmpty || keyCandidates.isEmpty) Nil
      else {
        // only LIVE rows count as hits: a file whose only key matches
        // are dv-deleted rows must not rewrite
        val scan = evolvedScanWithFile(keyCandidates)
        SchemaTools.distinctStrings(scan.join(bcast(src),
            keys.map(k => scan(k) <=> src(s"__s_$k")).reduce(_ && _))
          .filter(coalesce(matchedOr, lit(false))), "__file").map(toRel)
      }
    // NOT MATCHED BY SOURCE: every live row must prove a source match
    // or face the clauses — scan all live files (condition spans
    // prune when every clause is conditional), rewrite only where a
    // clause fires
    val nmbsOr: org.apache.spark.sql.Column = notMatchedBySource
      .map(_.condition.map(expr).getOrElse(lit(true)))
      .reduceOption(_ || _).getOrElse(lit(false))
    val nmbsTouched: Seq[String] =
      if (notMatchedBySource.isEmpty || r.data.isEmpty) Nil
      else {
        val cands =
          if (notMatchedBySource.exists(_.condition.isEmpty)) r.data
          else prunedLive(notMatchedBySource
              .map(c => s"(${c.condition.get})").mkString(" OR "),
            r.data, r.spanOf).getOrElse(r.data)
        if (cands.isEmpty) Nil
        else {
          // dv-applied for the same reason as filesWithHits: a
          // deleted row is not a live row facing the NMBS clauses
          val scan = evolvedScanWithFile(cands)
          SchemaTools.distinctStrings(scan.join(bcast(batchKeys),
              keys.map(k => scan(k) <=> batchKeys(k)).reduce(_ && _),
              "left_anti")
            .filter(coalesce(nmbsOr, lit(false))), "__file").map(toRel)
        }
      }
    val touched = (filesWithHits ++ nmbsTouched).distinct
    // first-true-wins action tag per row ('m0'/'n0'/'i0'... or 'keep')
    def actTag(clauses: Seq[MergeClause], p: String)
        : org.apache.spark.sql.Column =
      clauses.zipWithIndex
        .foldRight(lit("keep"): org.apache.spark.sql.Column) {
          case ((cl, i), acc) =>
            when(cl.condition.map(expr).getOrElse(lit(true)),
              lit(s"$p$i")).otherwise(acc)
        }
    val deleteTags: Seq[String] =
      matched.zipWithIndex.collect {
        case (MergeClause(_, MergeDelete), i) => s"m$i" } ++
      notMatchedBySource.zipWithIndex.collect {
        case (MergeClause(_, MergeDelete), i) => s"n$i" }
    // CHANGE DATA FEED (opt-in, Delta's change files): the merge
    // already computes exact pre/post images — when the table property
    // is on and this is a mutating (upsert-kind) commit, persist them
    // as `_change_data/` rows in the SAME commit so the feed
    // decomposes instead of refusing
    val cdfOn = touched.nonEmpty && cdfEnabled(Some(plannedV))
    val updateTags: Seq[String] =
      matched.zipWithIndex.collect {
        case (MergeClause(_, MergeUpdate(_)), i) => s"m$i" } ++
      notMatchedBySource.zipWithIndex.collect {
        case (MergeClause(_, MergeUpdate(_)), i) => s"n$i" }
    val (survivors, cdfSurvChanges): (DataFrame, Option[DataFrame]) =
      if (touched.isEmpty) (emptyT, None)
      else {
        val touchedRows = SchemaTools.conformTo(
          readApplied(touched, r.schemaOf, standingDv), eSchema)
        // with no matched clauses only the MATCH FLAG matters, so the
        // join side is the deduped key set — a duplicate-keyed source
        // must not duplicate kept target rows
        val joinRight =
          if (matched.nonEmpty) src.withColumn("__s_match", lit(true))
          else batchKeys
            .select(keys.map(k => col(k).as(s"__s_$k")): _*)
            .withColumn("__s_match", lit(true))
        val joined = touchedRows.join(bcast(joinRight),
          keys.map(k => touchedRows(k) <=> joinRight(s"__s_$k"))
            .reduce(_ && _),
          "left_outer")
        val tagged = joined.withColumn("__act",
          when(col("__s_match").isNotNull, actTag(matched, "m"))
            .otherwise(actTag(notMatchedBySource, "n")))
        val kept =
          if (deleteTags.isEmpty) tagged
          else tagged.filter(!col("__act").isin(deleteTags: _*))
        val updates: Seq[(String, Map[String, String])] =
          matched.zipWithIndex.collect {
            case (MergeClause(_, MergeUpdate(sets)), i) =>
              s"m$i" -> sets.toMap } ++
          notMatchedBySource.zipWithIndex.collect {
            case (MergeClause(_, MergeUpdate(sets)), i) =>
              s"n$i" -> sets.toMap }
        // post-values projected with __act riding, so the CDF split
        // (updated rows vs carried rows) reuses the same projection
        val projected0 = kept.select(eSchema.map { f =>
          updates.foldRight(col(f.name)) { case ((tag, sets), acc) =>
            sets.get(f.name) match {
              case Some(sql) => when(col("__act") === tag,
                expr(sql).cast(f.dataType)).otherwise(acc)
              case None => acc
            }
          }.as(f.name)
        }.toSeq :+ col("__act"): _*)
        // generated columns recompute over the POST-update row (a
        // second projection — the expression must see NEW input
        // values); carried rows keep their standing bytes (the
        // append-time invariant already holds on them)
        val projected1 =
          if (genCols.isEmpty || updateTags.isEmpty) projected0
          else projected0.select(eSchema.map { f =>
            genCols.get(f.name) match {
              case Some(g) => when(col("__act").isin(updateTags: _*),
                  expr(g).cast(f.dataType))
                .otherwise(col(f.name)).as(f.name)
              case None => col(f.name)
            }
          }.toSeq :+ col("__act"): _*)
        // with CDF on, the SAME frame feeds both the staged survivors
        // and the staged post-images — pin it to ONE materialization
        // so a nondeterministic SET expression (or AQE re-plan) can
        // never make the persisted feed disagree with the table
        val projected =
          if (cdfOn) projected1.localCheckpoint(true) else projected1
        val changes =
          if (!cdfOn) None
          else {
            val eCols2 = eSchema.map(f => col(f.name)).toSeq
            def inTags(tags: Seq[String]): org.apache.spark.sql.Column =
              if (tags.isEmpty) lit(false)
              else col("__act").isin(tags: _*)
            val pre = tagged.filter(inTags(updateTags))
              .select(eCols2: _*)
              .withColumn("_op", lit("update_preimage"))
            val post = projected
              .filter(inTags(updateTags))
              .drop("__act")
              .withColumn("_op", lit("update_postimage"))
            val dels = tagged.filter(inTags(deleteTags))
              .select(eCols2: _*)
              .withColumn("_op", lit("delete"))
            Some(pre.unionByName(post).unionByName(dels))
          }
        (projected.drop("__act"), changes)
      }
    val inserts: DataFrame =
      if (notMatched.isEmpty) emptyT
      else {
        // source rows with NO live match: anti-join against the key
        // columns of the span-surviving candidate files (files outside
        // the envelope provably hold no matching key). The probe is
        // dv-APPLIED — a positionally-deleted target row must NOT
        // suppress the insert (Delta applies deletion vectors before
        // matching), or the source row is neither inserted nor updated.
        val srcOnly =
          if (keyCandidates.isEmpty) src
          else {
            val scanK = readApplied(keyCandidates, r.schemaOf, standingDv)
              .select(keys.map(col): _*)
            src.join(scanK,
              keys.map(k => src(s"__s_$k") <=> scanK(k)).reduce(_ && _),
              "left_anti")
          }
        val taggedI = srcOnly.withColumn("__act", actTag(notMatched, "i"))
          .filter(col("__act") =!= "keep")
        val values: Seq[(String, Map[String, String])] =
          notMatched.zipWithIndex.map { case (cl, i) =>
            s"i$i" -> (cl.op match {
              case MergeInsert(vs) => vs.toMap
              case _ => Map.empty[String, String]
            })
          }
        // a column no firing clause assigns takes its DEFAULT when
        // one is declared (the SQL INSERT contract), NULL otherwise
        val defs = defaultColumns(Some(plannedV))
        taggedI.select(eSchema.map { f =>
          val fallback: org.apache.spark.sql.Column =
            defs.get(f.name).map(expr(_).cast(f.dataType))
              .getOrElse(lit(null).cast(f.dataType))
          values.foldRight(fallback) {
            case ((tag, vs), acc) => vs.get(f.name) match {
              case Some(sql) => when(col("__act") === tag,
                expr(sql).cast(f.dataType)).otherwise(acc)
              case None => acc
            }
          }.as(f.name)
        }.toSeq: _*)
      }
    // hwm bookkeeping ([[appendResolvingDefaults]]'s discipline):
    // bases re-read per CAS attempt; a lost race that moved a mark
    // re-allocates and re-stages, so racing merges never collide
    def hwmKey(c: String) = s"${CommitLog.IdentityHwmPrefix}$c"
    def hwmOf(ps: Map[String, String], c: String): Long =
      ps.get(hwmKey(c)).map(_.toLong)
        .getOrElse(idCols(c)._1 - idCols(c)._2)
    val needAlloc = notMatched.nonEmpty && idToAlloc.nonEmpty
    // extreme EXPLICIT inserted value in the step direction — what the
    // mark must clear so later allocations never collide (computed
    // once; insert rows never change across CAS retries)
    val explicitExt: Map[String, Option[Long]] =
      if (idExplicit.isEmpty || notMatched.isEmpty) Map.empty
      else {
        val aggs = idExplicit.map { c =>
          if (idCols(c)._2 > 0)
            org.apache.spark.sql.functions.max(col(c))
          else org.apache.spark.sql.functions.min(col(c))
        }
        val row = inserts.agg(aggs.head, aggs.tail: _*).head()
        idExplicit.zipWithIndex.map { case (c, i) =>
          c -> (if (row.isNullAt(i)) None
                else Some(row.get(i).toString.toLong)) }.toMap
      }
    if (idCols.nonEmpty) ensureMetaHint()
    var names: Seq[String] = Nil
    var changeNames: Seq[String] = Nil
    var spans: Map[String, CommitLog.FileSpans] = Map.empty
    var outSchema: StructType = eSchema
    var stagedBases: Map[String, Long] = null
    var allocN: Long = 0L
    def restage(bases: Map[String, Long]): Unit = {
      names.foreach(n => fs.delete(new Path(dataDir, n), false))
      changeNames.foreach(n =>
        fs.delete(new Path(changeDataDir, n), false))
      var ins = inserts
      if (needAlloc) {
        val (indexed, total) = zipIndex(inserts)
        allocN = total
        ins = indexed
        idToAlloc.foreach { c =>
          val (_, step, _) = idCols(c)
          ins = ins.withColumn(c,
            (lit(bases(c)) + (col("__idx") + 1L) * step)
              .cast(eSchema(c).dataType))
        }
        ins = ins.drop("__idx")
      }
      // generated columns compute AFTER clause values and identity
      // allocation land — an expression referencing an allocated
      // identity column sees the final value
      genCols.foreach { case (c, g) =>
        ins = ins.withColumn(c, expr(g).cast(eSchema(c).dataType))
      }
      // CDF: the inserted rows stage TWICE (data + change rows) —
      // pin one materialization so allocated identities / any
      // nondeterminism land identically in both
      if (cdfOn) ins = ins.localCheckpoint(true)
      val out = survivors.unionByName(ins)
      names = stage(out)
      if (cdfOn) {
        // CDF rows ride the commit: inserts carry their final values
        // (allocated identities included), so they stage here too
        val insChg = ins.withColumn("_op", lit("insert"))
        changeNames = stageChangeData(
          cdfSurvChanges.map(_.unionByName(insChg)).getOrElse(insChg))
      }
      stagedBases = bases
      spans = spansOf(names, Some(out.schema))
      outSchema = out.schema
    }
    restage(idToAlloc
      .map(c => c -> hwmOf(properties(Some(plannedV)), c)).toMap)
    if (touched.isEmpty && spans.values.map(_.nRows).sum == 0L) {
      // nothing changed: burn no commit, sweep the staged empties
      names.foreach(n => fs.delete(new Path(dataDir, n), false))
      return (plannedV, 0)
    }
    val kind = if (touched.isEmpty) "append" else "upsert"
    val strict = notMatchedBySource.nonEmpty
    val v = new Txn("merge", plannedV, rewrites = touched,
        enforce = true).run { w =>
      val ps = properties(Some(w.tip))
      val bases = idToAlloc.map(c => c -> hwmOf(ps, c)).toMap
      if (bases != stagedBases) restage(bases)
      // upsert's rules, except that under NOT MATCHED BY SOURCE any
      // concurrent data commit conflicts, and any keyed delete does
      // (written keys are not enumerable pre-commit)
      reHomed(w.commits)
        .orElse(if (!strict) None else w.commits.find(addsRows).map(c =>
          s"${c.kind} v${c.version} landed rows this merge's NOT " +
            "MATCHED BY SOURCE examination never saw"))
        .orElse(concurrentAppend(w.commits, keyBounds))
        .orElse(keyedDelete(w.commits))
        .foreach(why => throw conflict(why))
      val newMarks: Map[String, String] =
        (if (allocN > 0) idToAlloc.map { c =>
          hwmKey(c) -> (bases(c) + idCols(c)._2 * allocN).toString
        }.toMap else Map.empty[String, String]) ++
        idExplicit.collect { case c
            if explicitExt(c).exists(e =>
              if (idCols(c)._2 > 0) e > hwmOf(ps, c)
              else e < hwmOf(ps, c)) =>
          hwmKey(c) -> explicitExt(c).get.toString }
      Some(Action(kind, names, removed = touched,
        schema = Some(outSchema), stats = spans,
        props = if (idCols.isEmpty) None else Some(ps ++ newMarks),
        changeFiles = changeNames))
    }.get
    (v, touched.size)
    } finally srcTmp.foreach(p => fs.delete(p, true))
  }

  /** Row-level DELETE WHERE as ONE atomic copy-on-write commit (the
    * SQL DML surface's delete): span-pruned candidates, then only
    * files actually HOLDING matching rows rewrite to their survivors —
    * an `upsert`-kind commit (removed = touched, files = rewritten),
    * so time travel serves the pre-delete rows and incremental
    * consumers re-baseline across it. Deletes are snapshot-scoped
    * (Delta's semantics): rows a concurrent append lands after
    * planning survive — appends don't conflict; losing a planned
    * input to a concurrent replace/rewrite does. Standing MOR
    * tombstones commute (key subtraction holds wherever survivor rows
    * land). NULL predicate rows are KEPT (SQL WHERE semantics).
    * Returns (version, touched) — a no-match delete burns no commit
    * (returns the planned version, 0). */
  def deleteWhere(rawPredicate: String): (Long, Int) = {
    import org.apache.spark.sql.functions.{coalesce, expr, input_file_name, lit, not}
    // callers speak LOGICAL names; the copy-on-write runs on the
    // files' frozen physical names ([[toPhysicalSql]])
    val predicate = toPhysicalSql(rawPredicate)
    val plannedV = latestVersion()
    val r = resolve(Some(plannedV))
    if (r.data.isEmpty) return (plannedV, 0)
    val hit = coalesce(expr(predicate), lit(false))
    val standingDv = r.tombstones.filter(isDvName)
    val candidates = prunedLive(predicate, r.data, r.spanOf)
      .getOrElse(r.data)
    // dv-applied probe: a file whose only predicate hits are
    // positionally-deleted rows must not rewrite
    val touched: Seq[String] =
      if (candidates.isEmpty) Nil
      else SchemaTools.distinctStrings(
        appliedWithFile(candidates, r.schemaOf, standingDv).filter(hit),
        "__file").map(relFileOf(standingDv))
    if (touched.isEmpty) return (plannedV, 0)
    // standing positional marks apply to the rewritten survivors
    val out = readApplied(touched, r.schemaOf, standingDv)
      .filter(not(hit))
    // CHANGE DATA FEED (opt-in): the deleted rows' pre-images ride the
    // commit as `_op = delete` change rows
    val changeNames: Seq[String] =
      if (!cdfEnabled(Some(plannedV))) Nil
      else stageChangeData(
        readApplied(touched, r.schemaOf, standingDv).filter(hit)
          .withColumn("_op", lit("delete")))
    val names = stage(out)
    val spans = spansOf(names, Some(out.schema))
    val v = new Txn("deleteWhere", plannedV, rewrites = touched).run(_ =>
      Some(Action("upsert", names, removed = touched,
        schema = Some(out.schema), stats = spans,
        changeFiles = changeNames))).get
    (v, touched.size)
  }

  /** REPLACE WHERE — Delta's predicate-scoped atomic overwrite
    * (`INSERT INTO t REPLACE WHERE p <query>` / the DataFrame writer's
    * `replaceWhere` option): delete every row matching the predicate
    * AND land the batch, as ONE commit. Every batch row must satisfy
    * the predicate (Delta's constraint — the verb is a band swap, not
    * a merge; violating rows refuse loudly). Scale shape: span-pruned
    * candidates, then only files actually HOLDING matching rows
    * rewrite to their survivors (dv-applied probe — deleteWhere's
    * discipline), unmatched files untouched, the batch staged
    * alongside — replacing one day of a 100 TB event lake costs that
    * day's files, never the lake. The batch conforms to the standing
    * schema; callers speak LOGICAL names under active column mapping.
    * CDF (opt-in): deleted pre-images + inserted rows ride the
    * commit. Standing KEYED tombstones refuse (the read-time key
    * subtract could silently erase landed batch rows — void the
    * delete first); positional marks apply to the rewritten
    * survivors. A no-match replace with an empty batch burns no
    * commit. Auto-column tables refuse (allocation/generation does
    * not ride this verb — route through INSERT + DELETE). Returns
    * (version, touched files). */
  def replaceWhere(batch: DataFrame, rawPredicate: String,
      beforeCommit: () => Unit = () => ()): (Long, Int) = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val (ids, gens) = autoColumns()
    require(ids.isEmpty && gens.isEmpty,
      "REPLACE WHERE on a table with identity/generated columns is " +
        "not supported — route the change through INSERT + DELETE")
    val predicate = toPhysicalSql(rawPredicate)
    val plannedV = latestVersion()
    val r = resolve(Some(plannedV))
    val standingDv = r.tombstones.filter(isDvName)
    require(r.tombstones.forall(isDvName),
      "REPLACE WHERE while keyed MOR tombstones stand is not " +
        "supported — the read-time key subtract could silently erase " +
        "landed batch rows; void the delete first")
    val hit = coalesce(expr(predicate), lit(false))
    // batch columns must COVER the standing data columns (DEFAULT
    // columns may be omitted — they fill like INSERT's) — a silent
    // by-name null-fill of a missing or mis-aliased column would be
    // wrong data, not drift evolution; renames translate like every
    // writer under active column mapping
    val marker = SchemaTools.readSchemaMarkerInfo(spark, root)
    val renames = marker.map(_.renames).getOrElse(Map.empty[String, String])
    val tSchema: StructType =
      if (r.data.nonEmpty) readConformed(r.data, r.schemaOf).schema
      else read(Some(plannedV)).schema
    var b0 = SchemaTools.unapplyRenames(batch, renames)
    val defs = defaultColumns(Some(plannedV))
    if (tSchema.nonEmpty) {
      defs.foreach { case (c, sql) =>
        if (!b0.columns.contains(c) && tSchema.fieldNames.contains(c))
          b0 = b0.withColumn(c, expr(sql).cast(tSchema(c).dataType))
      }
      val missing = tSchema.fieldNames.toSet -- b0.columns.toSet
      require(missing.isEmpty,
        s"REPLACE WHERE batch is missing target column(s) " +
          s"${missing.toSeq.sorted.mkString(", ")} — alias every " +
          "computed column to its target name (a silent null-fill " +
          "would be wrong data, not evolution)")
    }
    // pinned to ONE materialization: the batch is evaluated by the
    // band-invariant check, the staged output, and (with CDF) the
    // insert change rows — a nondeterministic query must not pass
    // validation with one sample and land another
    val b = (if (tSchema.nonEmpty) SchemaTools.conformTo(b0, tSchema)
             else b0).localCheckpoint(true)
    require(b.filter(not(hit)).isEmpty,
      "REPLACE WHERE batch rows must ALL satisfy the predicate — " +
        "rows outside the band would silently widen the replace " +
        "(write them with INSERT)")
    val candidates =
      if (r.data.isEmpty) Nil
      else prunedLive(predicate, r.data, r.spanOf).getOrElse(r.data)
    val touched: Seq[String] =
      if (candidates.isEmpty) Nil
      else SchemaTools.distinctStrings(
        appliedWithFile(candidates, r.schemaOf, standingDv).filter(hit),
        "__file").map(relFileOf(standingDv))
    val out = touched match {
      case Nil => b
      case t => readApplied(t, r.schemaOf, standingDv)
        .filter(not(hit)).unionByName(b)
    }
    val names = stage(out)
    val spans = spansOf(names, Some(out.schema))
    if (touched.isEmpty && spans.values.map(_.nRows).sum == 0L) {
      names.foreach(n => fs.delete(new Path(dataDir, n), false))
      return (plannedV, 0)
    }
    val changeNames: Seq[String] =
      if (!cdfEnabled(Some(plannedV))) Nil
      else {
        val ins = b.withColumn("_op", lit("insert"))
        stageChangeData(
          if (touched.isEmpty) ins
          else readApplied(touched, r.schemaOf, standingDv)
            .filter(hit).withColumn("_op", lit("delete"))
            .unionByName(ins))
      }
    val kind = if (touched.isEmpty) "append" else "upsert"
    val v = new Txn("replaceWhere", plannedV, rewrites = touched,
        enforce = true, beforeCommit = beforeCommit).run { w =>
      // the band swap examined EVERY in-band row at planning time: a
      // concurrent data commit whose files' spans cannot PROVE zero
      // in-band rows landed rows this replace never saw — committing
      // would mix them with the replacement batch (the documented
      // old-day-or-new-day atomicity). Provably out-of-band commits
      // commute; restore/clone re-home visibility wholesale; a keyed
      // delete's written keys are not enumerable pre-commit —
      // conservative conflict (merge's discipline).
      val newFiles = windowAdds(w.commits)
      val spanOfW: Map[String, FileSpans] = newFiles.map {
        case (c, f) => f -> c.stats.getOrElse(f,
          CommitLog.FileSpans(-1L, Map.empty))
      }.toMap
      reHomed(w.commits)
        .orElse(keyedDelete(w.commits))
        .orElse(if (newFiles.isEmpty) None
          else prunedLive(predicate, newFiles.map(_._2), spanOfW) match {
            case Some(cands) if cands.isEmpty => None // provably out-of-band
            case _ => Some("a concurrent commit landed rows not " +
              "provably outside the replaced band (ConcurrentAppend)")
          })
        .foreach(why => throw conflict(why))
      Some(Action(kind, names, removed = touched,
        schema = Some(out.schema), stats = spans,
        changeFiles = changeNames))
    }.get
    (v, touched.size)
  }

  /** Row-level DELETE WHERE with ZERO data-file writes — positional
    * deletion vectors (the Delta DV design): matching rows are marked
    * by (file, row position) in a `dv-*.parquet` tombstone, committed
    * as ONE `delete` commit. At 100 TB an arbitrary-predicate delete
    * costs O(matched rows of metadata), not a rewrite of every touched
    * file; readers subtract marks via one anti-join on (file, pos);
    * time travel before the commit serves the rows. Marks are
    * position-exact for IMMUTABLE files, so they can never mis-apply —
    * but they do not survive re-homing, so every rewrite path applies
    * standing marks to its inputs ([[readApplied]]) and a mark
    * committing against files a concurrent rewrite removed CONFLICTS
    * here (re-plan on fresh state: the positions are meaningless in
    * the re-homed files). OPTIMIZE is the fold: rewritten files leave
    * the live set and their marks become dead weight vacuum-class
    * metadata. NULL predicate rows are KEPT (SQL WHERE). No-match
    * burns no commit. The predicate speaks LOGICAL names (active
    * column mapping translates through [[toPhysicalSql]]); not
    * supported on clones with borrowed files (positions need this
    * table's own scan prefix). */
  def deleteWhereMor(rawPredicate: String): (Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    // callers speak LOGICAL names; marks are positional, so mapping
    // only needs the predicate translated ([[toPhysicalSql]])
    val predicate = toPhysicalSql(rawPredicate)
    val plannedV = latestVersion()
    val r = resolve(Some(plannedV))
    if (r.data.isEmpty) return (plannedV, 0L)
    // refuse on ANY borrowed live file (not just matching candidates):
    // once marks stand, EVERY read must carry positions, and borrowed
    // files scan from the source's prefix — a mark landed here would
    // make the whole table unreadable, not just this delete
    require(r.data.forall(n => !borrowed._2(n)),
      "deleteWhereMor on a clone with borrowed files is not " +
        "supported — OPTIMIZE-localize first")
    val hit = coalesce(expr(predicate), lit(false))
    val candidates = prunedLive(predicate, r.data, r.spanOf)
      .getOrElse(r.data)
    if (candidates.isEmpty) return (plannedV, 0L)
    // positions of matching rows, EXCLUDING rows already marked (a
    // re-delete of the same band must be a cheap no-op, not a
    // duplicate mark pile)
    val standing = r.tombstones.filter(isDvName)
    val matched = minusDvKeepPos(
      readConformed(candidates, r.schemaOf, withPos = true), standing)
      .filter(hit)
      .select(org.apache.spark.sql.functions.col("__file_name")
          .as("__dv_file"),
        org.apache.spark.sql.functions.col("__row_pos").as("__dv_pos"))
    val names = stageDv(matched)
    if (names.isEmpty) return (plannedV, 0L)
    val spans = spansOf(names)
    val nMarked = spans.values.map(_.nRows).sum
    if (nMarked == 0L) return (plannedV, 0L)
    val markedFiles = SchemaTools.distinctStrings(
      readerFor(names.map(dataPath)).parquet(names.map(dataPath): _*),
      "__dv_file").toSet
    val v = new Txn("deleteWhereMor").run { w =>
      if (!markedFiles.subsetOf(resolve(Some(w.tip)).data.toSet))
        throw conflict("deleteWhereMor marked positions in files a " +
          "concurrent commit re-homed")
      Some(Action("delete", names, stats = spans))
    }.get
    (v, nMarked)
  }

  /** [[minusDv]] but KEEPING the position columns (the delete planner
    * needs them after the subtraction). */
  private def minusDvKeepPos(withPos: DataFrame, dvNames: Seq[String])
      : DataFrame =
    if (dvNames.isEmpty) withPos
    else {
      val paths = dvNames.map(dataPath)
      val dvf = readerFor(paths).parquet(paths: _*)
      withPos.join(
        SchemaTools.broadcastIfUnder(spark, dvf,
          SchemaTools.bytesOf(spark, paths)),
        withPos("__file_name") === dvf("__dv_file") &&
          withPos("__row_pos") === dvf("__dv_pos"),
        "left_anti")
    }

  /** Stage a (__dv_file, __dv_pos) frame as `dv-*` tombstone files —
    * the name prefix IS the classification (no footer opened to tell
    * positional marks from keyed tombstones). */
  private def stageDv(marks: DataFrame): Seq[String] =
    stage(marks.coalesce(1), flat = true).map { n =>
      val dest = s"dv-$n"
      fs.rename(new Path(dataDir, n), new Path(dataDir, dest))
      dest
    }

  /** Throw if a positional-delete commit in `window` marks any of
    * `rewriting` — the rewrite read those files before the marks, so
    * committing would resurrect the marked rows. Marks on files the
    * commit does not rewrite commute (their positions stay live). */
  private def conflictOnWindowDv(window: Seq[Commit],
      rewriting: Seq[String]): Unit = {
    val newDv = window
      .filter(_.kind == "delete").flatMap(_.files).filter(isDvName)
    if (newDv.nonEmpty &&
        !readerFor(newDv.map(dataPath)).parquet(newDv.map(dataPath): _*)
          .filter(org.apache.spark.sql.functions.col("__dv_file")
            .isin(rewriting: _*))
          .isEmpty)
      throw conflict("a concurrent positional delete marked files this " +
        "rewrite re-homes")
  }

  /** The restore/clone rule of the keyed and band verbs: a restore or
    * a clone in the window re-homes visibility wholesale, so its spans
    * prove nothing about what the verb examined — always a conflict. */
  private def reHomed(window: Seq[Commit]): Option[String] =
    window.collectFirst {
      case c if c.kind == "restore" || c.kind == "clone" =>
        s"${c.kind} v${c.version} re-homed visibility"
    }

  /** A keyed MOR delete in the window, for the verbs that cannot
    * enumerate the keys they write before the commit: conservatively a
    * conflict (ConcurrentDelete). */
  private def keyedDelete(window: Seq[Commit]): Option[String] =
    window.collectFirst {
      case c if c.kind == "delete" && c.files.exists(!isDvName(_)) =>
        s"keyed delete v${c.version} landed in the window " +
          "(ConcurrentDelete)"
    }

  /** Whether `c` lands rows a planned verb never saw (rewrites add
    * none — their outputs carry exactly their inputs' rows). */
  private def addsRows(c: Commit): Boolean =
    c.kind == "append" || c.kind == "upsert" || c.kind == "replace"

  /** The data files the window's row-adding commits added, with their
    * commit: what a ConcurrentAppend rule examines. */
  private def windowAdds(window: Seq[Commit]): Seq[(Commit, String)] =
    window.filter(addsRows).flatMap(c => c.files.map(c -> _))

  /** ConcurrentAppend for a keyed verb: the first window commit that
    * added a file whose log-carried spans cannot prove it disjoint from
    * the batch's key envelope on SOME key column — its rows may match
    * keys the verb never saw. Provably disjoint appends commute (the
    * partition-disjointness rule, served by per-file spans). */
  private def concurrentAppend(window: Seq[Commit],
      keyBounds: Map[String, FileStats.ColBound]): Option[String] =
    windowAdds(window).collectFirst { case (c, f) if !keyBounds.exists {
        case (k, b) => c.stats.get(f).flatMap(_.cols.get(k)) match {
          case Some((mn, mx)) => !FileStats.spanIntersects(mn, mx, b)
          case None => false
        }
      } => s"${c.kind} v${c.version} landed rows not provably " +
        "disjoint from the merge keys (ConcurrentAppend)" }

  /** Row-level UPDATE SET ... WHERE as ONE atomic copy-on-write commit
    * (the SQL DML surface's update, `deleteWhere`'s sibling): span-
    * pruned candidates, then only files actually HOLDING matching rows
    * rewrite — matching rows get every assignment applied (cast back
    * to the column's standing type: UPDATE never changes the schema),
    * non-matching rows in touched files copy through byte-equal. The
    * commit is `upsert`-kind (removed = touched, files = rewritten),
    * so time travel serves pre-update rows and incremental consumers
    * re-baseline. Snapshot-scoped like deleteWhere: concurrent appends
    * commute (their rows weren't in the planned snapshot), losing a
    * planned input to a concurrent replace/rewrite conflicts. NULL
    * predicate rows are NOT updated (SQL WHERE semantics). `sets` maps
    * existing column names to SQL expressions evaluated per-row
    * against the pre-update row (standard UPDATE: all assignments see
    * OLD values). No predicate = all rows. Returns (version, touched);
    * a no-match update burns no commit. */
  def updateWhere(rawSets: Seq[(String, String)],
      rawPredicate: Option[String]): (Long, Int) = {
    import org.apache.spark.sql.functions.{coalesce, expr, input_file_name, lit, when}
    require(rawSets.nonEmpty, "UPDATE needs at least one assignment")
    // callers speak LOGICAL names; targets, value expressions, and
    // the predicate translate to physical ([[toPhysicalSql]])
    val sets = rawSets.map { case (t, v) =>
      physicalName(t) -> toPhysicalSql(v) }
    val predicate = rawPredicate.map(toPhysicalSql)
    val plannedV = latestVersion()
    val r = resolve(Some(plannedV))
    if (r.data.isEmpty) return (plannedV, 0)
    val hit = predicate
      .map(p => coalesce(expr(p), lit(false))).getOrElse(lit(true))
    val candidates = predicate
      .flatMap(p => prunedLive(p, r.data, r.spanOf)).getOrElse(r.data)
    val standingDv = r.tombstones.filter(isDvName)
    // dv-applied probe: a file whose only predicate hits are
    // positionally-deleted rows must not rewrite
    val touched: Seq[String] =
      if (candidates.isEmpty) Nil
      else SchemaTools.distinctStrings(
        appliedWithFile(candidates, r.schemaOf, standingDv).filter(hit),
        "__file").map(relFileOf(standingDv))
    if (touched.isEmpty) return (plannedV, 0)
    // standing positional marks apply to the rewritten rows
    val base = readApplied(touched, r.schemaOf, standingDv)
    val setOf = sets.toMap
    require(sets.size == setOf.size,
      s"duplicate assignment targets in ${sets.map(_._1).mkString(",")}")
    val missing = setOf.keySet -- base.columns.toSet
    require(missing.isEmpty,
      s"UPDATE targets unknown columns: ${missing.mkString(", ")}")
    // AUTO columns (Delta's UPDATE rules): identity and generated
    // columns may never be assigned; generated columns RECOMPUTE over
    // the post-update row when any of their inputs move (a second
    // projection below), so updating a generation input is supported
    val (uIds, uGensRaw) = autoColumns(Some(plannedV))
    val genCols: Map[String, String] = uGensRaw.map { case (c, g) =>
      physicalName(c) -> toPhysicalSql(g) }
    setOf.keySet.foreach { c =>
      require(!uIds.contains(c), s"cannot UPDATE identity column $c")
      require(!genCols.contains(c),
        s"cannot UPDATE generated column $c — it recomputes from " +
          "its expression")
    }
    // standing KEYED tombstones subtract by key at read time; an
    // assignment rewriting a tombstone KEY column would re-home a
    // logically-deleted row under a key that escapes the read-time
    // anti-join — silent resurrection. Mirror doUpsert's clash guard:
    // refuse loudly, void the delete first (replace with the applied
    // read). Non-key assignments commute: updated-but-deleted rows
    // keep their key and the subtract still holds.
    val standingKeyed = r.tombstones.filterNot(isDvName)
    if (standingKeyed.nonEmpty) {
      val tombstoneKeys = spark.read
        .parquet(standingKeyed.map(dataPath): _*).columns.toSet
      val hitKeys = setOf.keySet.intersect(tombstoneKeys)
      require(hitKeys.isEmpty,
        s"UPDATE assigns tombstone key column(s) " +
          s"${hitKeys.mkString(", ")} while keyed MOR tombstones " +
          "stand — rewritten rows would escape the read-time key " +
          "subtract and resurrect deleted rows; void the delete " +
          "first (replace with the applied read)")
    }
    // one simultaneous projection: every assignment value evaluates
    // against the PRE-update row (SQL UPDATE semantics — `SET a = b,
    // b = a` swaps), cast back to the standing column type. The hit
    // flag is CARRIED (an assignment may rewrite a predicate column,
    // so re-evaluating the predicate post-update would select the
    // wrong rows for the generated-column recompute).
    val flagged = base.withColumn("__hit", hit)
    val out0 = flagged.select(base.schema.fields.map { f =>
      setOf.get(f.name) match {
        case Some(v) =>
          when(org.apache.spark.sql.functions.col("__hit"),
            expr(v).cast(f.dataType))
            .otherwise(org.apache.spark.sql.functions.col(f.name))
            .as(f.name)
        case None => org.apache.spark.sql.functions.col(f.name)
      }
    }.toSeq :+ org.apache.spark.sql.functions.col("__hit"): _*)
    // generated columns recompute over the POST-update row on hit
    // rows; carried rows keep their standing bytes
    val outHit0 = (if (genCols.isEmpty) out0
      else out0.select(base.schema.fields.map { f =>
        genCols.get(f.name) match {
          case Some(g) =>
            when(org.apache.spark.sql.functions.col("__hit"),
              expr(g).cast(f.dataType))
              .otherwise(org.apache.spark.sql.functions.col(f.name))
              .as(f.name)
          case None => org.apache.spark.sql.functions.col(f.name)
        }
      }.toSeq :+ org.apache.spark.sql.functions.col("__hit"): _*))
    // with CDF on, the SAME post-update frame feeds the staged files
    // AND the post-images (carried __hit selects them without
    // re-evaluating the predicate over post values) — pinned to one
    // materialization so a nondeterministic SET can never make the
    // persisted feed disagree with the table
    val cdfOn = cdfEnabled(Some(plannedV))
    val outHit =
      if (cdfOn) outHit0.localCheckpoint(true) else outHit0
    val out = outHit.drop("__hit")
    // CHANGE DATA FEED (opt-in): exact pre/post images of the rows
    // the predicate hits ride the commit; pre-images read the
    // immutable pre-update files
    val changeNames: Seq[String] =
      if (!cdfOn) Nil
      else {
        val pre = base.filter(hit)
          .withColumn("_op", lit("update_preimage"))
        val post = outHit
          .filter(org.apache.spark.sql.functions.col("__hit"))
          .drop("__hit")
          .withColumn("_op", lit("update_postimage"))
        stageChangeData(pre.unionByName(post))
      }
    val names = stage(out)
    val spans = spansOf(names, Some(out.schema))
    // assignments can violate CHECK constraints: enforced
    val v = new Txn("updateWhere", plannedV, rewrites = touched,
      enforce = true).run(_ => Some(Action("upsert", names,
        removed = touched, schema = Some(out.schema), stats = spans,
        changeFiles = changeNames))).get
    (v, touched.size)
  }

  // ---- CHECK constraints (Delta table-constraint parity) -------------------
  //
  // Constraints are TABLE METADATA carried by the log itself: a `meta`
  // commit's `constraints` object is the FULL named-predicate set after
  // the change (last meta commit wins; checkpoints fold it, so the set
  // survives log truncation). Making metadata changes COMMITS — not a
  // shared marker file — is what makes them transactional: adding a
  // constraint validates the live data as of a planned version and CAS-
  // races data writers like any commit, and every data-adding writer
  // re-reads the constraint set inside its own commit retry loop, so a
  // constraint landing mid-flight gates the very next attempt. `meta`
  // commits carry no files: resolution folds them as no-ops, readSince/
  // changesSince deliver nothing for them, retention reachability is
  // unaffected, and history() shows them as zero-file operations.
  // RESTORE restores DATA state only — the constraint set persists
  // across it (documented divergence kept deliberately: a restore must
  // not silently re-legalize rows a newer constraint forbids).

  /** Monotone hint that a meta commit exists SOMEWHERE in this log —
    * what lets the per-commit enforcement check cost one `exists` call
    * on the overwhelmingly common constraint-free table instead of a
    * manifest scan per commit attempt. */
  private def metaHint = new Path(commitsDir, "_has_meta")

  /** Resolve a meta payload at `asOf`: checkpoint base, then the last
    * `meta` commit CARRYING that payload at or below wins (payloads
    * are independent — a constraints-only meta leaves props alone). */
  private def metaSet(field: String,
      of: Commit => Option[Map[String, String]],
      asOf: Option[Long]): Map[String, String] = {
    if (!fs.exists(metaHint)) return Map.empty
    val hi = asOf.getOrElse(latestVersion())
    if (hi < 1) return Map.empty
    bounded(metaCache, 1024, (field, hi), metaSetAt(field, of, hi))
  }

  private def metaSetAt(field: String,
      of: Commit => Option[Map[String, String]],
      hi: Long): Map[String, String] = {
    val (base, from) = newestCheckpoint(hi) match {
      case Some(cv) =>
        val node = mapper
          .readTree(TimeFly.readText(fs, checkpointFile(cv)))
          .asInstanceOf[ObjectNode]
        val m = scala.collection.mutable.Map[String, String]()
        if (node.has(field))
          node.path(field).fields().forEachRemaining(e =>
            m(e.getKey) = e.getValue.asText())
        (m.toMap, cv + 1)
      case None => (Map.empty[String, String], 1L)
    }
    (from to hi).map(commit).foldLeft(base) { (acc, c) =>
      of(c).getOrElse(acc)
    }
  }

  /** The named CHECK constraint set at `asOf` (latest by default). */
  def constraints(asOf: Option[Long] = None): Map[String, String] =
    metaSet("constraints", _.constraints, asOf)

  /** TABLE PROPERTIES at `asOf` — the Delta TBLPROPERTIES analog:
    * free-form (key, value) metadata versioned by the same meta
    * commits the constraint set rides, so property changes are
    * transactional, historical, and truncation-surviving. */
  def properties(asOf: Option[Long] = None): Map[String, String] =
    metaSet("props", _.props, asOf)

  /** SET TBLPROPERTIES: one meta commit with the merged map. */
  def setProperties(kv: Map[String, String]): Long = {
    require(kv.nonEmpty, "nothing to set")
    ensureMetaHint() // before the CAS — see addConstraint
    new Txn("setProperties").run(w => Some(Action("meta",
      props = Some(properties(Some(w.tip)) ++ kv)))).get
  }

  /** UNSET TBLPROPERTIES [IF EXISTS]: one meta commit minus the keys. */
  def unsetProperties(keys: Seq[String], ifExists: Boolean = false)
      : Long = {
    var tip = 0L
    new Txn("unsetProperties").run { w =>
      tip = w.tip
      val cur = properties(Some(w.tip))
      val missing = keys.filterNot(cur.contains)
      require(ifExists || missing.isEmpty,
        s"no such properties: ${missing.mkString(", ")}")
      // a no-op burns no commit
      if ((cur -- keys) == cur) None
      else Some(Action("meta", props = Some(cur -- keys)))
    }.getOrElse(tip)
  }

  private def ensureMetaHint(): Unit =
    if (!fs.exists(metaHint)) {
      val out = fs.create(metaHint, true)
      try out.write("1".getBytes("UTF-8")) finally out.close()
    }

  /** ADD CONSTRAINT name CHECK (predicate): refuses if the name stands
    * or any LIVE row violates (the Delta rule — existing data must
    * already satisfy a new constraint), then commits the updated set.
    * Validation re-runs per CAS retry, so data landing mid-race is
    * validated too. NULL predicate rows VIOLATE here (a constraint
    * must prove, not fail to disprove). */
  def addConstraint(name: String, predicate: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_'), s"bad constraint name: $name")
    // parse early: a predicate that cannot parse must refuse loudly
    spark.sessionState.sqlParser.parseExpression(predicate)
    // hint BEFORE the CAS: the hint gates every reader's (and every
    // data-writer's enforcement) meta scan, so it must exist by the
    // time the commit is visible — hint-first means a crash between
    // the two leaves a harmless hint over zero meta commits, never a
    // committed-but-invisible constraint set (and never a racing
    // append that skips enforcement of a just-landed constraint)
    ensureMetaHint()
    new Txn("addConstraint").run { w =>
      val cur = constraints(Some(w.tip))
      require(!cur.contains(name),
        s"constraint $name already stands: ${cur(name)}")
      val r = resolve(Some(w.tip))
      if (r.data.nonEmpty) {
        val bad = assembleRead(r, None)
          .filter(not(coalesce(expr(predicate), lit(false))))
          .limit(1).count()
        require(bad == 0L,
          s"cannot add CHECK $name: live data violates $predicate")
      }
      Some(Action("meta", constraints = Some(cur + (name -> predicate))))
    }.get
  }

  /** NOT NULL invariants (Delta's per-column invariants): recorded
    * through the SAME named-constraint meta commits CHECK rides — a
    * reserved-name entry `__notnull_<col>` with predicate
    * `<col> IS NOT NULL` — so they are transactional, versioned,
    * checkpoint-folded, and enforced in every data-adding writer's
    * CAS retry loop for free ([[enforceConstraints]]). Adding one
    * validates the live data first (a standing null refuses, exactly
    * like CHECK); a later write missing the column entirely fails
    * loudly at enforcement (unresolvable predicate), never silently.
    * Only identifier-shaped column names are addressable this way —
    * the reserved-name encoding is the column's address. */
  def setNotNull(column: String): Long = {
    require(column.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"NOT NULL needs an identifier-shaped column name: $column")
    if (latestVersion() > 0L) {
      val cols = read(None).columns.toSet
      require(cols.contains(column),
        s"no such column for NOT NULL: $column " +
          s"(have: ${cols.toSeq.sorted.mkString(", ")})")
    }
    addConstraint(CommitLog.NotNullPrefix + column,
      s"`$column` IS NOT NULL")
  }

  /** Drop a standing NOT NULL invariant — one meta commit. */
  def dropNotNull(column: String): Long =
    dropConstraint(CommitLog.NotNullPrefix + column)

  /** Columns under a NOT NULL invariant at `asOf`. */
  def notNullColumns(asOf: Option[Long] = None): Seq[String] =
    constraints(asOf).keys.toSeq
      .filter(_.startsWith(CommitLog.NotNullPrefix))
      .map(_.stripPrefix(CommitLog.NotNullPrefix)).sorted

  /** DROP CONSTRAINT name — one meta commit with the reduced set. */
  def dropConstraint(name: String): Long =
    new Txn("dropConstraint").run { w =>
      val cur = constraints(Some(w.tip))
      require(cur.contains(name), s"no such constraint: $name")
      Some(Action("meta", constraints = Some(cur - name)))
    }.get

  /** Enforce the CURRENT constraint set over freshly-staged files —
    * run by [[Txn]] on every attempt of a data-adding commit, so the
    * set read is at most one commit behind the CAS it gates (a meta
    * commit interleaving between the check and the CAS takes the slot
    * and forces another attempt, which re-checks). Free on
    * constraint-free tables (one marker `exists`). Violation throws;
    * the staged files become vacuum debris. */
  private def enforceConstraints(names: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    if (names.isEmpty || !fs.exists(metaHint)) return
    val cs = constraints(None)
    if (cs.isEmpty) return
    var r = spark.read
    if (partitionCols.nonEmpty)
      r = r.option("basePath", fs.makeQualified(dataDir).toString)
    val df = r.parquet(names.map(dataPath): _*)
    cs.toSeq.sortBy(_._1).foreach { case (n, p) =>
      val bad = df.filter(not(coalesce(expr(p), lit(false))))
        .limit(1).count()
      if (bad > 0L)
        throw new IllegalArgumentException(
          s"CHECK constraint $n violated by this write: $p")
    }
  }

  /** RESTORE — Delta `RESTORE TABLE ... TO VERSION AS OF`: ONE commit
    * that resets the live state to `toVersion`'s resolution while
    * PRESERVING history (time travel still serves every retained
    * version, including the just-abandoned tip). Metadata-only at any
    * lake size: the commit re-references the target's data files —
    * still on disk, because restore can only reach versions whose
    * manifests are retained, and every file a retained manifest
    * references is vacuum-protected — and carries the target's
    * tombstone set, per-file schema groups, and spans, so tombstone
    * subtraction, schema conformance, and file skipping all serve
    * from this one manifest exactly as they did at `toVersion`.
    * Concurrency is the replace rule: planned against the current
    * tip, CONFLICTS if the log advanced. Incremental consumers
    * re-baseline across it ([[readSince]]/[[changesSince]] refuse).
    * `beforeCommit` is the same test seam as [[upsert]]'s. */
  def restore(toVersion: Long,
      beforeCommit: () => Unit = () => ()): Long = {
    val plannedV = latestVersion()
    require(toVersion >= 1 && toVersion <= plannedV,
      s"no committed version $toVersion to restore to")
    val target = resolve(Some(toVersion))
    // the restored spans ride the manifest, so readers stay pruned
    // after the sidecar drops
    new Txn("restore", base = Some(plannedV), beforeCommit = beforeCommit)
      .run(_ => Some(Action("restore", target.data,
        removed = target.tombstones, stats = target.spanOf,
        schemaGroups = target.schemaOf))).get
  }

  /** SCREENED MERGE — [[appendScreened]]'s write-time expectations
    * composed with [[upsert]] on the multi-writer flavor: rows proving
    * every rule take the keyed copy-on-write merge as ONE commit,
    * violators append to `quarantinePath` carrying their failed rule
    * names. A CDC feed is exactly where bad rows arrive — a rejected
    * UPDATE must leave its key's CURRENT row standing (it never
    * reaches the merge), and an all-violations batch burns no
    * version. Returns ((version, touched) if anything merged,
    * quarantined count). */
  def upsertScreened(
      batch: DataFrame,
      keys: Seq[String],
      rules: Seq[Expectations.Rule],
      quarantinePath: String): (Option[(Long, Int)], Long) = {
    val (accepted, quarantined) = Expectations.screen(batch, rules)
    val q = quarantined
      .withColumn("violated",
        org.apache.spark.sql.functions.concat_ws(",",
          org.apache.spark.sql.functions.col("violated")))
    val nQ = q.count()
    if (nQ > 0)
      q.write.mode("append").parquet(quarantinePath)
    val v =
      if (accepted.isEmpty) None else Some(upsert(accepted, keys))
    (v, nQ)
  }

  /** SHALLOW CLONE — Delta `CREATE TABLE ... SHALLOW CLONE`: a new
    * commit-log dataset at `destRoot` whose founding commit
    * RE-REFERENCES this dataset's live files instead of copying them —
    * O(metadata) whatever the data size; cloning a 100 TB table moves
    * zero data bytes. The clone's `_base.json` records the borrow
    * table (source data dir + borrowed names, immutable — borrowed
    * files can only LEAVE the clone's live set), and every read path
    * resolves borrowed names through it. The founding manifest carries
    * the source's tombstones, per-file schema groups, and spans, so
    * subtraction, conformance, and skipping serve on the clone exactly
    * as on the source; an active column-mapping marker is copied.
    *
    * After the clone the two logs are INDEPENDENT: appends, merges,
    * deletes, optimizes on either side never touch the other (clone
    * writes stage into the clone's own `data/`; an OPTIMIZE localizes
    * the clone by packing borrowed files into owned ones). The one
    * documented coupling is Delta's own: a VACUUM on the SOURCE does
    * not know about clones, so source-side vacuum after source commits
    * drop a file can reclaim bytes a clone still borrows — pin the
    * source (skip vacuum / retain) while shallow clones reference it,
    * or localize clones first. */
  def cloneTo(destRoot: String): CommitLog = {
    require(partitionCols.isEmpty,
      "shallow clone of a hive-partitioned table is not supported — " +
        "borrowed partition paths cannot resolve under the clone's " +
        "basePath; OPTIMIZE-localize or deep-copy instead")
    val r = resolve(None)
    require(!r.tombstones.exists(isDvName),
      "shallow clone with standing positional deletes is not " +
        "supported — positions are relative to this table's own scan " +
        "prefix; OPTIMIZE (which applies the marks) first")
    val dest = CommitLog(spark, destRoot).init()
    require(dest.latestVersion() == 0L,
      s"clone destination $destRoot already has commits")
    val marker = mapper.createObjectNode()
    marker.put("base", dataDir.toString)
    val arr = marker.putArray("files")
    (r.data ++ r.tombstones).foreach(arr.add)
    // destination writes go through the DESTINATION's FileSystem —
    // cloning across schemes (file:// source, hdfs:// dest) must not
    // route dest paths through the source FS handle. The base marker
    // is created no-overwrite: if another writer initialized destRoot
    // between the latestVersion()==0 check and here, fail loudly
    // instead of silently adopting a half-initialized clone.
    val out = dest.fs.create(dest.baseMarker, false)
    try out.write(mapper.writeValueAsBytes(marker))
    finally out.close()
    foundClone(dest, destRoot, r)
  }

  /** A clone's founding commit, v1 of the empty `dest` (refused if
    * another writer claimed it). The column-mapping marker rides along
    * (renames/drops stay applied). CHECK constraints, table properties
    * and the COPY INTO registry travel too — TABLE metadata, not
    * history — so a clone cannot accept writes the source's
    * constraints forbid, and strategy properties like delete.mode keep
    * governing it. The manifest carries `r`'s tombstones, per-file
    * schema groups and spans. */
  private def foundClone(dest: CommitLog, destRoot: String,
      r: Resolved): CommitLog = {
    val srcSchema = new Path(root, "_schema.json")
    if (fs.exists(srcSchema)) {
      val o = dest.fs.create(new Path(destRoot, "_schema.json"), true)
      try o.write(TimeFly.readText(fs, srcSchema).getBytes("UTF-8"))
      finally o.close()
    }
    val srcCons = constraints(None)
    val srcProps = properties(None)
    copyCopyRegistry(srcProps, destRoot, dest)
    if (srcCons.nonEmpty || srcProps.nonEmpty) dest.ensureMetaHint()
    new dest.Txn(s"clone into $destRoot", base = Some(0L)).run(_ =>
      Some(Action("clone", r.data, removed = r.tombstones,
        stats = r.spanOf, schemaGroups = r.schemaOf,
        constraints = Some(srcCons).filter(_.nonEmpty),
        props = Some(srcProps).filter(_.nonEmpty))))
    dest
  }

  /** The COPY INTO registry travels with a clone (Delta carries the
    * ingest dedup state): the referenced run manifests are tiny
    * METADATA — copying them keeps the shallow clone's zero-DATA-copy
    * claim intact, and a COPY INTO against the clone still skips
    * already-ingested files instead of failing on a dangling
    * pointer. */
  private def copyCopyRegistry(srcProps: Map[String, String],
      destRoot: String, dest: CommitLog): Unit =
    srcProps.collect {
      case (k, d) if k.startsWith(CommitLog.CopyRunPrefix) => d
    }.foreach { d =>
      val from = new Path(root, d)
      val to = new Path(destRoot, d)
      if (fs.exists(from))
        org.apache.hadoop.fs.FileUtil.copy(fs, from,
          to.getFileSystem(spark.sparkContext.hadoopConfiguration), to,
          false, true, spark.sparkContext.hadoopConfiguration)
    }

  /** DEEP CLONE (Delta's `CREATE TABLE .. CLONE` without SHALLOW): an
    * independent PHYSICAL copy. File bytes copy DISTRIBUTED — one
    * task per file through the executors' own FileSystem clients (the
    * Hadoop conf rides a broadcast of its key/value pairs; the driver
    * never streams data) — then the founding commit references the
    * copies under the clone's own data dir. Covers exactly the
    * layouts the zero-copy clone must refuse: hive-partitioned tables
    * (partition-qualified relative names copy verbatim and resolve
    * under the clone's basePath) and standing positional deletes
    * (dv mark files copy too — positions stay valid because every
    * copied data file is byte-identical). CHECK constraints and table
    * properties travel like the shallow clone's; spans and per-file
    * schema groups carry over unchanged (same names, same bytes).
    * O(data) by nature — the verb for a true fork; [[cloneTo]] is the
    * cheap dev branch. */
  def deepCloneTo(destRoot: String): CommitLog = {
    val r = resolve(None)
    val dest = CommitLog(spark, destRoot).init()
    require(dest.latestVersion() == 0L,
      s"clone destination $destRoot already has commits")
    if (partitionCols.nonEmpty) dest.initPartitioned(partitionCols)
    val names = (r.data ++ r.tombstones).distinct
    if (names.nonEmpty) {
      val pairs = names.map(n => (dataPath(n), n))
      val destData = dest.dataDir.toString
      // hadoop conf as plain pairs — Configuration itself is not
      // serializable, and executors must keep scheme/credential conf
      val confPairs = {
        val it = spark.sparkContext.hadoopConfiguration.iterator()
        val buf = scala.collection.mutable.ArrayBuffer[(String, String)]()
        while (it.hasNext) { val e = it.next(); buf += e.getKey -> e.getValue }
        buf.toSeq
      }
      val bConf = spark.sparkContext.broadcast(confPairs)
      spark.sparkContext
        .parallelize(pairs, math.max(1, math.min(pairs.size,
          spark.sparkContext.defaultParallelism * 2)))
        .foreach { case (from, rel) =>
          val hc = new org.apache.hadoop.conf.Configuration(false)
          bConf.value.foreach { case (k, v) => hc.set(k, v) }
          val fp = new Path(from)
          val tp = new Path(s"$destData/$rel")
          org.apache.hadoop.fs.FileUtil.copy(
            fp.getFileSystem(hc), fp, tp.getFileSystem(hc), tp,
            false, true, hc)
        }
    }
    foundClone(dest, destRoot, r)
  }

  /** Highest batch id committed for `appId`, scanning the newest
    * checkpoint's folded `txns` plus the commits after it — the Delta
    * SetTransaction lookup that makes [[appendOnce]] idempotent across
    * log truncation. */
  def lastTxn(appId: String): Option[Long] = {
    val hi = latestVersion()
    val (base, from) = newestCheckpoint(hi) match {
      case Some(cv) =>
        val node = mapper
          .readTree(TimeFly.readText(fs, checkpointFile(cv)))
          .asInstanceOf[ObjectNode]
        val b =
          if (node.has("txns") && node.path("txns").has(appId))
            Some(node.path("txns").path(appId).asLong())
          else None
        (b, cv + 1)
      case None => (Option.empty[Long], 1L)
    }
    val later: Seq[Long] = (from to hi)
      .flatMap(v => commit(v).txn)
      .collect { case (a, b) if a == appId => b }
    val all: Seq[Long] = later ++ base.toSeq
    if (all.isEmpty) None else Some(all.max)
  }

  /** IDEMPOTENT append — the Delta `txnAppId`/`txnVersion` contract
    * that turns at-least-once delivery (foreachBatch retries, replayed
    * micro-batches, a restarted writer) into exactly-once ingestion:
    * the commit records `(appId, batchId)`, and a batch at or below
    * the app's high-water mark is SKIPPED (returns None) instead of
    * landing twice. Safe under races: if two writers carry the same
    * (appId, batchId), the CAS lets one win; the loser re-checks the
    * log inside its retry loop, sees the mark, and skips. Batch ids
    * must be monotonically increasing per app (the foreachBatch
    * contract). */
  def appendOnce(df: DataFrame, appId: String, batchId: Long)
      : Option[Long] = {
    if (lastTxn(appId).exists(_ >= batchId)) return None
    val names = stage(df)
    val spans = spansOf(names, Some(df.schema))
    val mark = Some((appId, batchId))
    new Txn("appendOnce", enforce = true, once = mark).run(_ =>
      Some(Action("append", names, txn = mark, schema = Some(df.schema),
        stats = spans)))
  }

  /** Rename a column WITHOUT rewriting data — the commit-log surface
    * for [[SchemaTools.renameColumn]] column mapping. The `_schema.json`
    * marker lives at the log root; [[read]] applies it. */
  def renameColumn(from: String, to: String): Unit = {
    guardDeclared(from, "rename")
    ensureSchemaMarker()
    SchemaTools.renameColumn(spark, root, from, to)
  }

  /** Drop a column logically (zero rewrite) — [[SchemaTools.dropColumn]]
    * on the log root. */
  def dropColumn(name: String): Unit = {
    guardDeclared(name, "drop")
    ensureSchemaMarker()
    SchemaTools.dropColumn(spark, root, name)
  }

  /** Identity/generated/DEFAULT declarations (and generated-column
    * INPUTS) are name-keyed properties — a logical rename or drop
    * would silently dangle them, so refuse loudly. */
  private def guardDeclared(c: String, verb: String): Unit = {
    val (ids, gens) = autoColumns()
    val defs = defaultColumns()
    val declared = ids.keySet ++ gens.keySet ++ defs.keySet
    require(!declared.contains(c),
      s"cannot $verb $c — an identity/generated/DEFAULT declaration " +
        "is keyed by that name (retire the declaration first)")
    val genInputs: Set[String] = gens.values.flatMap { g =>
      spark.sessionState.sqlParser.parseExpression(g).collect {
        case a: org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute => a.nameParts.last }
    }.toSet
    require(!genInputs.contains(c),
      s"cannot $verb $c — a generated column derives from it")
  }

  /** The mapping ops need a marker recording the PHYSICAL schema;
    * bootstrap it from the resolved live set (NOT a directory listing —
    * `data/` holds tombstones and uncommitted debris too). */
  private def ensureSchemaMarker(): Unit =
    if (SchemaTools.readSchemaMarkerInfo(spark, root).isEmpty) {
      val r = resolve(None)
      require(r.data.nonEmpty, "nothing committed to map columns over")
      // UNIFY per-file schemas (manifest-recorded where present,
      // footer read otherwise) — a plain multi-file scan resolves
      // against ONE sampled footer and silently MISSES columns a
      // drifted subset carries (e.g. a zero-row widening append), so
      // the marker would drop them from the mapping registry
      val schemas = r.data.map(n => r.schemaOf.getOrElse(n,
        spark.read.parquet(dataPath(n)).schema)).distinct
      SchemaTools.writeSchemaMarker(spark, root,
        SchemaTools.unifySchemas(schemas),
        homogeneous = schemas.size <= 1)
    }

  /** Fold the log prefix up to `v` into a CHECKPOINT (the Delta
    * `_checkpoint` pattern): one file carrying the fully-resolved live
    * set at `v`, so readers replay `O(commits since checkpoint)`
    * instead of the whole log. Written as `v%020d.checkpoint.json`
    * NEXT TO the commit it summarizes — writing it races nothing (the
    * version is already immutable) and a missing/extra checkpoint is
    * only ever a performance fact, never a correctness one. */
  def checkpoint(v: Long): Unit = {
    require(v >= 1 && v <= latestVersion(), s"no committed version $v")
    val r = resolve(Some(v))
    val node = mapper.createObjectNode()
    val arr = node.putArray("files")
    r.data.foreach(arr.add)
    val tarr = node.putArray("tombstones")
    r.tombstones.foreach(tarr.add)
    // fold per-file schemas as groups, so evolution history survives
    // log truncation (files sharing a schema share one entry)
    putSchemaGroups(node, r.schemaOf)
    // fold log-carried per-file spans ([[FileSpans]]) — skipping must
    // survive log truncation exactly like schema history does
    putStats(node, r.spanOf)
    // fold per-app txn high-water marks (Delta keeps SetTransaction
    // actions alive in checkpoints for the same reason: idempotence
    // must survive log truncation)
    val marks = scala.collection.mutable.Map[String, Long]()
    val prevFrom = newestCheckpoint(v) match {
      case Some(cv) if cv < v =>
        val p = mapper
          .readTree(TimeFly.readText(fs, checkpointFile(cv)))
          .asInstanceOf[ObjectNode]
        if (p.has("txns"))
          p.path("txns").fields().forEachRemaining(e =>
            marks(e.getKey) = e.getValue.asLong())
        cv + 1
      case _ => 1L
    }
    (prevFrom to v).flatMap(commit(_).txn).foreach { case (a, b) =>
      marks(a) = math.max(marks.getOrElse(a, Long.MinValue), b)
    }
    if (marks.nonEmpty) {
      val tn = node.putObject("txns")
      marks.foreach { case (a, b) => tn.put(a, b) }
    }
    // fold the CHECK constraint set and table properties at v — table
    // metadata must survive log truncation exactly like schema history
    // and txn marks do
    val cs = constraints(Some(v))
    if (cs.nonEmpty) {
      val cn = node.putObject("constraints")
      cs.toSeq.sortBy(_._1).foreach { case (n, p) => cn.put(n, p) }
    }
    val ps = properties(Some(v))
    if (ps.nonEmpty) {
      val pn = node.putObject("props")
      ps.toSeq.sortBy(_._1).foreach { case (k, x) => pn.put(k, x) }
    }
    // same temp-then-rename visibility as commits: a reader sees the
    // whole checkpoint or none (none only costs a full log replay)
    val tmp = new Path(commitsDir,
      s".tmp-${java.util.UUID.randomUUID().toString.take(12)}.json")
    val out = fs.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
    val cf = checkpointFile(v)
    if (fs.exists(cf)) fs.delete(cf, false)
    fs.rename(tmp, cf)
    if (v > ckptHint) ckptHint = v
  }

  private def checkpointFile(v: Long) =
    new Path(commitsDir, f"v$v%020d.checkpoint.json")

  /** Newest checkpoint this handle has observed (-1 = never). ANY
    * checkpoint at or below the target version is resolution-sound
    * (older just means a longer replay tail), so serving a hinted
    * one instead of re-listing the commits directory per cache miss
    * is a pure perf fact — bounded by re-listing whenever the hinted
    * tail would exceed 64 commits (covers read-only handles on logs
    * other writers checkpoint). */
  @volatile private var ckptHint: Long = -1L

  /** Newest checkpoint at or below `v`, if any — hinted (O(1) stat)
    * with a bounded-staleness fallback to the full listing. */
  private def newestCheckpoint(v: Long): Option[Long] = {
    val h = ckptHint
    if (h >= 1 && h <= v && v - h <= 64 &&
        fs.exists(checkpointFile(h))) Some(h)
    else {
      val r = listNewestCheckpoint(v)
      r.foreach(cv => if (cv > ckptHint) ckptHint = cv)
      r
    }
  }

  private def listNewestCheckpoint(v: Long): Option[Long] =
    if (!fs.exists(commitsDir)) None
    else fs.listStatus(commitsDir).iterator
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".checkpoint.json"))
      .map(n => n.substring(1, n.length - 16).toLong)
      .filter(_ <= v)
      .foldLeft(Option.empty[Long]) {
        case (acc, x) => Some(math.max(acc.getOrElse(x), x))
      }

  /** RETENTION: expire every version before `keepFrom`. A checkpoint
    * lands at `keepFrom` first (so resolution at or after it never
    * degrades, whatever happens next), then data files referenced ONLY
    * by the dropped prefix are reclaimed (files a pre-`keepFrom`
    * replace stranded — the live set never references them again),
    * then the prefix's commit files and stale checkpoints drop. Reads
    * before `keepFrom` become unavailable — the retention contract
    * every lake format documents; reads at or after it are untouched.
    * Crash-safe by that order: each step only removes what the
    * previous step made unreachable. Returns the reclaimed data-file
    * count. */
  def expireBefore(keepFrom: Long): Long = {
    require(keepFrom >= 1 && keepFrom <= latestVersion(),
      s"no committed version $keepFrom")
    checkpoint(keepFrom)
    val (drop, keep) = existingVersions().partition(_ < keepFrom)
    val atKeep = resolve(Some(keepFrom))
    // keep-side restore/clone manifests carry their TOMBSTONE set in
    // `removed` — live references, exactly like [[vacuum]] treats them;
    // omitting them would strand a tombstone a later restore re-references
    // and break every read at the tip (or silently resurrect its rows)
    val reachable = (atKeep.data ++ atKeep.tombstones ++
      keep.filter(_ > keepFrom).flatMap { v =>
        val c = commit(v)
        c.files ++ (if (c.kind == "restore" || c.kind == "clone")
          c.removed else Nil)
      }).toSet
    val stranded = drop.flatMap(commit(_).files).distinct
      .filterNot(reachable)
    stranded.foreach(f => fs.delete(new Path(dataDir, f), false))
    // expired commits' CDF change files die with their commits — no
    // later version re-references change data (it is per-commit)
    drop.flatMap(commit(_).changeFiles).distinct
      .foreach(n => fs.delete(new Path(changeDataDir, n), false))
    drop.foreach { v =>
      fs.delete(versionFile(v), false)
      fs.delete(checkpointFile(v), false)
    }
    // evict the truncated prefix from the per-version memoization:
    // a long-lived handle must fail a below-retention time-travel
    // exactly like a fresh handle on the same log would, not serve
    // it from cache (versions >= keepFrom stay valid — their state
    // is preserved by the covering checkpoint)
    drop.foreach { v =>
      commitCache.remove(v)
      resolveCache.remove(v)
    }
    metaCache.keySet().removeIf(k => k._2 < keepFrom)
    stranded.size
  }

  /** Debris sweep: data files no commit references (crashed writers'
    * moved-but-uncommitted files), leftover staging dirs, and orphaned
    * commit temp files. Keeps files referenced by ANY commit — old
    * versions stay readable.
    *
    * Unreferenced does NOT mean dead: a live writer moves its files
    * into `data/` (and works under `_staged/`) BEFORE its CAS lands,
    * so an unconditional sweep racing that window deletes files the
    * imminent commit references — silent data loss. The guard is the
    * one Delta VACUUM documents: only reclaim debris older than a
    * retention window (mtime-based, default [[CommitLog.RetentionMs]]
    * — far longer than any stage-to-commit gap). Pass `0` only when
    * no writer can be in flight (tests, decommission). */
  /** FILES metadata table — one row per LIVE data file, served from
    * manifests + file statuses alone (the Iceberg `files` table
    * analog): relative name, on-disk bytes, manifest-carried row
    * count, and per-column span bounds rendered `[lo, hi]`.
    * O(live files) driver-side metadata in the [[detail]] cost
    * class; ZERO data-file opens at any table size. */
  def filesDetail(asOf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val r = resolve(asOf)
    def render(v: FileStats.SpanV): String = v match {
      case FileStats.NumV(d) =>
        if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString
        else d.toString
      case FileStats.StrV(s) => s
    }
    r.data.map { name =>
      val p = new Path(dataPath(name))
      val size =
        scala.util.Try(fs.getFileStatus(p).getLen).getOrElse(-1L)
      val sp = r.spanOf.get(name)
      val bounds: Map[String, String] = sp.map(_.cols.collect {
        case (c, (mn, mx)) if mn.isDefined || mx.isDefined =>
          c -> (s"[${mn.map(render).getOrElse("")}, " +
            s"${mx.map(render).getOrElse("")}]")
      }.toMap).getOrElse(Map.empty)
      (name, size, sp.map(_.nRows).getOrElse(-1L), bounds)
    }.toDF("file", "size_bytes", "num_rows", "bounds")
  }

  /** Metadata-only global aggregates over the LIVE state (Delta's
    * metadata-only query optimization): exact `count(*)` plus numeric
    * `min`/`max` for `cols`, served from the commit manifests'
    * per-file stats — O(files) metadata, ZERO data-file opens.
    * Returns None unless the answer is provably exact: no standing
    * tombstones (merge-on-read marks change row visibility the
    * manifests cannot price), every live file carrying spans, and
    * every requested column carrying a NUMERIC span entry in every
    * file (string spans are truncated prefixes — comparable for
    * pruning, not exact extremes — so they decline). All-null files
    * contribute no bound (min/max ignore nulls); a column null in
    * every row answers (None, None) = SQL NULL. */
  def metadataAgg(cols: Seq[String])
      : Option[(Long, Map[String, (Option[Double], Option[Double])])] = {
    val r = resolve(None)
    if (r.tombstones.nonEmpty) return None
    if (!r.data.forall(r.spanOf.contains)) return None
    val n = r.data.map(r.spanOf(_).nRows).sum
    val mm = cols.map { c =>
      // callers speak LOGICAL names; the manifests' spans are keyed
      // by the files' frozen PHYSICAL names — under active column
      // mapping (rename chains!) probing the logical name directly
      // could read a DIFFERENT column's spans and serve a wrong
      // extreme with zero scan
      val pc = physicalName(c)
      // zero-row files carry no column spans and contribute nothing
      val sides = r.data.map(r.spanOf).filter(_.nRows > 0L).map {
        sp => sp.cols.getOrElse(pc, return None)
      }
      def num(s: Option[FileStats.SpanV]): Option[Double] = s.map {
        case FileStats.NumV(v) => v
        case _: FileStats.StrV => return None
      }
      c -> ((sides.flatMap(s => num(s._1)).minOption,
        sides.flatMap(s => num(s._2)).maxOption))
    }.toMap
    Some((n, mm))
  }

  def vacuum(retentionMs: Long = CommitLog.RetentionMs): Long =
    vacuumSweep(retentionMs, delete = true).size.toLong

  /** `VACUUM ... DRY RUN`: the paths the sweep WOULD delete, deleting
    * nothing — the Delta dry-run contract for auditing retention
    * before committing to it. */
  def vacuumDryRun(retentionMs: Long = CommitLog.RetentionMs)
      : Seq[String] = vacuumSweep(retentionMs, delete = false)

  private def vacuumSweep(retentionMs: Long, delete: Boolean)
      : Seq[String] = {
    val cutoff = System.currentTimeMillis() - retentionMs
    def expired(s: org.apache.hadoop.fs.FileStatus): Boolean =
      s.getModificationTime <= cutoff
    // after retention expiry, files appended before the kept boundary
    // are reachable ONLY through a checkpoint — the referenced set
    // must include checkpoint contents or vacuum eats live data
    val ckFiles: Seq[String] =
      if (!fs.exists(commitsDir)) Nil
      else fs.listStatus(commitsDir).iterator
        .map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.endsWith(".checkpoint.json"))
        .map(n => n.substring(1, n.length - 16).toLong)
        .flatMap { cv =>
          val node = mapper
            .readTree(TimeFly.readText(fs, checkpointFile(cv)))
            .asInstanceOf[ObjectNode]
          val buf = scala.collection.mutable.ArrayBuffer[String]()
          node.withArray("files").forEach(n => buf += n.asText())
          node.withArray("tombstones").forEach(n => buf += n.asText())
          buf
        }.toSeq
    // restore/clone manifests carry their TOMBSTONE set in `removed`
    // — those files are live references, not rewrite casualties
    val referenced = (existingVersions().flatMap { v =>
      val c = commit(v)
      c.files ++ (if (c.kind == "restore" || c.kind == "clone")
        c.removed else Nil)
    } ++ ckFiles).toSet
    val removed = scala.collection.mutable.ArrayBuffer[String]()
    // recursive: partitioned tables nest data under data/<k>=<v>/,
    // and the referenced set holds partition-qualified relative names
    val dataRoot = fs.makeQualified(dataDir).toUri
    def sweep(dir: Path): Unit =
      fs.listStatus(dir).foreach { s =>
        if (s.isDirectory) sweep(s.getPath)
        else {
          val rel = dataRoot
            .relativize(fs.makeQualified(s.getPath).toUri).getPath
          if (!referenced.contains(rel) && expired(s)) {
            if (delete) fs.delete(s.getPath, false)
            removed += s.getPath.toString
          }
        }
      }
    if (fs.exists(dataDir)) sweep(dataDir)
    val staged = new Path(root, "_staged")
    if (fs.exists(staged))
      fs.listStatus(staged).foreach { s =>
        if (expired(s)) {
          if (delete) fs.delete(s.getPath, true)
          removed += s.getPath.toString
        }
      }
    // commit temp files a crashed writer left behind (never visible as
    // versions — the atomic link/rename was never reached)
    if (fs.exists(commitsDir))
      fs.listStatus(commitsDir).foreach { s =>
        if (s.isFile && s.getPath.getName.startsWith(".tmp-") &&
            expired(s)) {
          if (delete) fs.delete(s.getPath, false)
          removed += s.getPath.toString
        }
      }
    // COPY INTO run manifests whose commit never landed (the manifest
    // writes BEFORE the CAS — see [[copyInto]]): a run dir is live iff
    // some retained commit's props OR a checkpoint's folded props
    // reference it; everything else past retention is crash debris
    val copyDir = new Path(root, "_copy")
    if (fs.exists(copyDir)) {
      val ckProps: Seq[String] =
        if (!fs.exists(commitsDir)) Nil
        else fs.listStatus(commitsDir).iterator
          .map(_.getPath.getName)
          .filter(n => n.startsWith("v") && n.endsWith(".checkpoint.json"))
          .map(n => n.substring(1, n.length - 16).toLong)
          .flatMap { cv =>
            val node = mapper
              .readTree(TimeFly.readText(fs, checkpointFile(cv)))
              .asInstanceOf[ObjectNode]
            val buf = scala.collection.mutable.ArrayBuffer[String]()
            if (node.has("props"))
              node.path("props").fields().forEachRemaining(e =>
                if (e.getKey.startsWith(CommitLog.CopyRunPrefix))
                  buf += e.getValue.asText())
            buf
          }.toSeq
      val liveRuns: Set[String] =
        (existingVersions().flatMap(v => commit(v).props.toSeq.flatMap(
          _.collect { case (k, d)
              if k.startsWith(CommitLog.CopyRunPrefix) => d })) ++
          ckProps).map(d => d.stripPrefix("_copy/")).toSet
      fs.listStatus(copyDir).foreach { s =>
        if (!liveRuns.contains(s.getPath.getName) && expired(s)) {
          if (delete) fs.delete(s.getPath, true)
          removed += s.getPath.toString
        }
      }
    }
    // change-data files staged by a mutation whose CAS never landed
    // (conflict thrown / constraint refused after staging): a change
    // file is live iff some retained commit's changeFiles references
    // it — orphans past retention are crash debris like _staged
    if (fs.exists(changeDataDir)) {
      val liveChange: Set[String] = existingVersions()
        .flatMap(v => commit(v).changeFiles).toSet
      fs.listStatus(changeDataDir).foreach { s =>
        if (s.isFile && !liveChange.contains(s.getPath.getName) &&
            expired(s)) {
          if (delete) fs.delete(s.getPath, false)
          removed += s.getPath.toString
        }
      }
    }
    removed.toSeq
  }
}

object CommitLog {
  /** Default vacuum retention: debris younger than this survives the
    * sweep, so a writer mid-flight (staged or moved-but-uncommitted
    * files) is never raced. Delta's default is 7 days; one hour is
    * generous against any stage-to-commit gap while keeping crashed
    * writers' debris from accumulating for a week. */
  val RetentionMs: Long = 60L * 60 * 1000

  /** Reserved constraint-name prefix encoding a per-column NOT NULL
    * invariant (see [[CommitLog.setNotNull]]). */
  val NotNullPrefix: String = "__notnull_"

  /** Table-property namespaces for AUTO COLUMNS (Delta's identity and
    * generated columns), recorded by CREATE TABLE as meta properties
    * so the declarations are transactional, versioned, and
    * checkpoint-folded like constraints:
    *  - `graft.identity.col.<name>` -> "start,step,allowExplicit"
    *    (the parsed `GENERATED ALWAYS|BY DEFAULT AS IDENTITY` spec)
    *  - `graft.identity.hwm.<name>` -> last allocated value — the
    *    high-water mark rides the SAME commit as the rows it covers,
    *    so concurrent writers CAS-race the allocation and never hand
    *    out a value twice
    *  - `graft.generated.col.<name>` -> generation expression SQL */
  /** Opt-in CHANGE DATA FEED (Delta's `delta.enableChangeDataFeed`):
    * when `"true"`, merge/upsert commits persist their exact change
    * rows (`_op` ∈ insert / update_preimage / update_postimage /
    * delete) as `_change_data/` files written in the SAME commit, so
    * [[CommitLog.changesSince]] decomposes them instead of refusing.
    * Off (the default), such commits stay non-decomposable and the
    * feed refuses loudly — the scale-honest fallback. */
  val CdfEnabledKey: String = "cdf.enabled"

  /** Declared clustering keys (Delta's CLUSTER BY / liquid
    * clustering): comma-separated column names; [[CommitLog
    * .optimizeCluster]] incrementally z-orders unclustered files on
    * them. */
  val ClusterByKey: String = "graft.cluster.by"

  val IdentityColPrefix: String = "graft.identity.col."
  val IdentityHwmPrefix: String = "graft.identity.hwm."
  val GeneratedColPrefix: String = "graft.generated.col."

  /** Table-property namespace for DEFAULT column values
    * (`c INT DEFAULT 5`): `graft.default.col.<name>` -> value SQL.
    * Applied at INSERT when the column is omitted; explicit values
    * (including NULL) win — defaults never validate or overwrite. */
  val DefaultColPrefix: String = "graft.default.col."

  /** Table-property namespace recording COPY INTO runs: each key is
    * `graft.copy.run.<version>` and the value is the run's identity-
    * manifest directory (relative to the table root). Namespaced so
    * user TBLPROPERTIES never collide; visible in SHOW TBLPROPERTIES
    * the way Delta surfaces its own `delta.*` bookkeeping. */
  val CopyRunPrefix: String = "graft.copy.run."

  /** One WHEN-clause action of a generalized [[CommitLog!.merge]]
    * (the full Delta MERGE grammar). Condition and value SQL
    * evaluates over a frame carrying the TARGET row's columns under
    * their own names and the SOURCE row's columns as `__s_<name>`
    * (the SQL dispatch rewrites `s.c` references to that form):
    *  - WHEN MATCHED clauses take [[MergeUpdate]] / [[MergeDelete]];
    *    both target and `__s_` references are legal
    *  - WHEN NOT MATCHED clauses take [[MergeInsert]]; `__s_`
    *    references only (there is no target row)
    *  - WHEN NOT MATCHED BY SOURCE clauses take [[MergeUpdate]] /
    *    [[MergeDelete]]; target references only (there is no source
    *    row — a `__s_` reference would read NULL) */
  sealed trait MergeOp
  case object MergeDelete extends MergeOp
  /** `sets`: target column -> value SQL; unassigned columns keep
    * their standing value. */
  final case class MergeUpdate(sets: Seq[(String, String)])
    extends MergeOp
  /** `values`: target column -> value SQL; unassigned columns land
    * NULL (subject to standing NOT NULL invariants). */
  final case class MergeInsert(values: Seq[(String, String)])
    extends MergeOp
  /** First-true-condition-wins; a clause with no condition always
    * fires; a row matching no clause keeps (target side) or drops
    * (source side) — Delta's resolution order. */
  final case class MergeClause(condition: Option[String], op: MergeOp)

  /** Per-file column spans + row count carried IN a commit manifest
    * (Delta's per-AddFile `stats` JSON): typed min/max sides
    * ([[FileStats.NumV]] doubles for numeric/timestamp/date columns,
    * [[FileStats.StrV]] bounded prefixes for strings — pruning needs
    * comparability, not exactness; the residual predicate always
    * re-applies), None spans for all-null columns. Stats in
    * the LOG, not a shared sidecar, is what multi-writer skipping
    * needs: each writer records spans for its own files inside its
    * own atomic commit, so concurrent appends never contend on a
    * shared manifest and a file is skippable the instant its commit
    * is visible. */
  final case class FileSpans(nRows: Long,
      cols: Map[String, (Option[FileStats.SpanV], Option[FileStats.SpanV])])

  /** One commit's payload, written field for field by the class's
    * CAS: the kind, the files it adds (`names`) and removes, and the
    * optional manifest fields a [[Commit]] reads back. */
  private final case class Action(kind: String,
      names: Seq[String] = Nil,
      removed: Seq[String] = Nil,
      txn: Option[(String, Long)] = None,
      schema: Option[StructType] = None,
      stats: Map[String, FileSpans] = Map.empty,
      schemaGroups: Map[String, StructType] = Map.empty,
      constraints: Option[Map[String, String]] = None,
      props: Option[Map[String, String]] = None,
      changeFiles: Seq[String] = Nil,
      clusteredKeys: Option[String] = None)

  final case class Commit(version: Long, kind: String,
      files: Seq[String], removed: Seq[String] = Nil,
      txn: Option[(String, Long)] = None,
      schema: Option[StructType] = None,
      stats: Map[String, FileSpans] = Map.empty,
      ts: Long = 0L,
      schemaGroups: Map[String, StructType] = Map.empty,
      constraints: Option[Map[String, String]] = None,
      props: Option[Map[String, String]] = None,
      changeFiles: Seq[String] = Nil,
      clustered: Boolean = false,
      // the clustering KEYS the rewrite ordered by (CSV) — a file is
      // clustered iff its adding commit's keys match the CURRENT
      // declaration, so ALTER ... CLUSTER BY invalidates old layouts;
      // None on legacy markers = counts unclustered (conservative)
      clusterKeys: Option[String] = None)

  /** The fully-resolved state at a version: live DATA files, live
    * TOMBSTONE files (merge-on-read delete keys committed through the
    * log — kind `delete` — so deletes are versioned like everything
    * else and time travel before a delete still sees the rows), and
    * the per-file PHYSICAL schema each live file's commit recorded
    * (SCHEMA EVOLUTION: the log is the schema registry — absent only
    * for commits written before schemas were recorded). */
  final case class Resolved(data: Seq[String], tombstones: Seq[String],
      schemaOf: Map[String, StructType] = Map.empty,
      spanOf: Map[String, FileSpans] = Map.empty)

  def apply(spark: SparkSession, root: String): CommitLog =
    new CommitLog(spark, root)
}
